"""Generic relational operator inventory (SURVEY.md §2.1–§2.8) over
the driver's TPC-H-ish tables.

Each query is the Spark-first expression of one (or a few) reference
operator rows — reference citations in the docstrings point at the
construct being reproduced.  Scale notes:

- Dim tables (region/nation/supplier/part) are explicitly
  `broadcast()` — at 100 TB the fact side never shuffles for these
  joins.
- Aggregations use built-in functions only → map-side partial
  aggregation + whole-stage codegen for free.
- Filters/projections precede joins so Catalyst pushes them into the
  parquet scan (verify with plans.assert_pushed_filters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.core import clamp, conf_floor_sql, safe_div
from ..sources.catalog import DAY_NS, load, ns
from .registry import register


def _tlit(df: DataFrame, colname: str, s: str):
    """Timestamp literal cast to the column's actual timestamp type.
    The test tables carry naive (NTZ) timestamps; if a session reads
    them as TIMESTAMP_NTZ (inferTimestampNTZ on, the default) the
    literal must be NTZ too, else Spark inserts a session-timezone
    cast and the semantics drift from the (naive) DuckDB oracle."""
    t = dict(df.dtypes)[colname]
    return F.lit(s).cast("timestamp_ntz" if t == "timestamp_ntz" else "timestamp")

# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@register(
    "pred_pushdown_revenue",
    survey="P1,P3,P5",
    bench=True,
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.08
  AND l_quantity < 24
""",
)
def pred_pushdown_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped scan: range + between predicates feeding a
    single aggregate.  Mirrors the reference's SQL-pushed filters
    (date windows, app/scoring_engine/talent_penalty.py:101-110);
    every predicate lands in the parquet scan's PushedFilters."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _tlit(li, "l_shipdate", "1996-01-01"))
            & (F.col("l_shipdate") < _tlit(li, "l_shipdate", "1997-01-01"))
            & (F.col("l_discount").between(0.02, 0.08))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "soft_delete_filter",
    survey="P2,A1,S15",
    oracle="""
SELECT o_orderstatus AS status, count(*) AS n
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY o_orderstatus
""",
)
def soft_delete_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-delete style exclusion filter (reference `WHERE is_deleted
    = FALSE`, scripts/run_scoring_engine.py:557-576)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") != "F")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "time_window_census",
    survey="P5,A1",
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-17'
GROUP BY event_type
""",
)
def time_window_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 7-day window census — the reference's DATEADD signal
    window (app/routers/signal_summaries.py:82-93) with a literal
    window so reruns are deterministic.  Partition-prunable if the
    table is date-partitioned."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter((F.col("ts") >= F.lit(ns("2024-01-10"))) & (F.col("ts") < F.lit(ns("2024-01-17"))))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "in_list_filter",
    survey="P6,F1",
    oracle="""
SELECT c_mktsegment AS segment, count(*) AS n
FROM customer
WHERE upper(c_mktsegment) IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
GROUP BY c_mktsegment
""",
)
def in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPPER(col) IN (...) predicate (reference
    scripts/run_scoring_engine.py:557-567 ticker IN-list)."""
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.upper("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "like_prefix_filter",
    survey="P7",
    oracle="""
SELECT p_type, count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
FROM part
WHERE p_type LIKE 'S%'
GROUP BY p_type
""",
)
def like_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-prefix predicate (reference `model_version LIKE 'v1.0%'`,
    app/scoring_engine/sem_confidence.py:284-297); StartsWith is
    pushed to the parquet scan."""
    p = load(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").startswith("S"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


@register(
    "keyword_regex_filter",
    survey="P8,F2",
    oracle=r"""
SELECT lang, count(*) AS n_docs
FROM documents
WHERE regexp_matches(text, '\bspark\b') AND regexp_matches(text, '\bquery\b')
GROUP BY lang
""",
)
def keyword_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-boundary keyword predicate over document text (reference
    `re.search(r'\\b'+kw+r'\\b')`, app/scoring_engine/rubric_scorer.py:154-159)
    as a vectorized JVM rlike — no Python loop."""
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").rlike(r"\bspark\b") & F.col("text").rlike(r"\bquery\b"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@register(
    "dim_join_fallback",
    survey="J1,J7,F13",
    bench=True,
    oracle="""
SELECT coalesce(r.r_name, 'UNKNOWN') AS region_name,
       count(*) AS n_customers,
       round(avg(c.c_acctbal), 4) AS avg_acctbal
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY coalesce(r.r_name, 'UNKNOWN')
""",
)
def dim_join_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake-schema dim lookup with a default fallback — the
    reference's companies⟕industries sector lookup with 'Services'
    default (app/scoring_engine/sector_config.py:23-41).  Both dims
    broadcast: zero shuffle on the customer side at any scale."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .groupBy(F.coalesce("r_name", F.lit("UNKNOWN")).alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@register(
    "fact_join_agg",
    survey="J2,A1",
    bench=True,
    oracle="""
SELECT o.o_orderpriority AS priority,
       count(DISTINCT o.o_orderkey) AS n_orders,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY o.o_orderpriority
""",
)
def fact_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (reference documents⋈document_chunks,
    scripts/run_scoring_engine.py:753-773) with revenue rollup.

    Plan: lineitem is pre-aggregated to one row per order BEFORE the
    join (map-side partial agg cuts the shuffle by the ~4 lineitems/
    order fan-in), so the join carries order-grain rows and the final
    rollup needs a plain count instead of a countDistinct — no
    distinct-aggregate double-scan.  ~40% faster at sf0.1 and the
    shuffle-volume win grows with fact-table width at 100 TB."""
    o = load(spark, sf_dir, "orders")
    o = o.filter(F.col("o_orderdate") >= _tlit(o, "o_orderdate", "1996-01-01"))
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )


@register(
    "anti_join_dedup",
    survey="J9,S18,U3",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment AS segment
FROM customer c
ANTI JOIN (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
) o ON c.c_custkey = o.o_custkey
""",
)
def anti_join_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the reference's dedup-before-insert existence
    probe on content_hash (app/scoring_engine/signal_store.py:21-28)
    as a set operation: customers with no recent orders."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    o = load(spark, sf_dir, "orders")
    recent = o.filter(F.col("o_orderdate") >= _tlit(o, "o_orderdate", "2000-01-01")).select(
        "o_custkey"
    )
    return c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")


@register(
    "semi_join_exists",
    survey="J9",
    oracle="""
SELECT c.c_mktsegment AS segment, count(*) AS n_active
FROM customer c
SEMI JOIN (
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
) o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""",
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — customers with at least one large
    order; complements anti_join_dedup.

    Reference: app/scoring_engine/signal_store.py:21-28 existence probe.
    """
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@register(
    "two_level_agg",
    survey="A2",
    oracle="""
WITH per_cust AS (
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey
)
SELECT round(avg(n_orders), 6) AS avg_orders_per_customer,
       count(*) AS n_customers
FROM per_cust
""",
)
def two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE-style two-level aggregate — reference portfolio mean jobs
    intensity (app/scoring_engine/hr_baselines.py:76-99): COUNT per
    company then AVG over companies."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return per_cust.agg(
        F.round(F.avg("n_orders"), 6).alias("avg_orders_per_customer"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "avg_fallback_chain",
    survey="A3,F13,J1",
    oracle="""
SELECT n.n_name AS nation_name,
       round(coalesce(avg(CASE WHEN c.c_mktsegment = 'BUILDING' THEN c.c_acctbal END),
                      75.0), 4) AS avg_building_bal
FROM nation n
LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def avg_fallback_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG with a literal fallback when the group is empty — the
    reference's hr-baseline chain AVG(...) else 75.0
    (app/scoring_engine/hr_baselines.py:22-53)."""
    n = F.broadcast(load(spark, sf_dir, "nation"))
    c = load(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.round(
                F.coalesce(
                    F.avg(F.when(F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal"))),
                    F.lit(75.0),
                ),
                4,
            ).alias("avg_building_bal")
        )
    )


@register(
    "manual_pivot",
    survey="A4",
    oracle="""
SELECT n.n_name AS nation_name,
       count(CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS seg_automobile,
       count(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 END) AS seg_building,
       count(CASE WHEN c.c_mktsegment = 'FURNITURE' THEN 1 END) AS seg_furniture,
       count(CASE WHEN c.c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS seg_household,
       count(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 END) AS seg_machinery
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def manual_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide per-key counts — the reference's SUM(CASE WHEN
    signal_type=...) manual pivot (scripts/compute_summary_signals.py:36-61)
    via `groupBy().pivot()` with an explicit value list (no extra
    distinct-scan job)."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    df = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .pivot("c_mktsegment", segs)
        .count()
        .na.fill(0, [s for s in segs])
    )
    for s in segs:
        df = df.withColumnRenamed(s, f"seg_{s.lower()}")
    return df


@register(
    "json_metric_rollup",
    survey="A5,F8",
    oracle="""
SELECT event_type,
       count(*) AS n,
       round(avg(try_cast(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k
FROM events
GROUP BY event_type
""",
)
def json_metric_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG over a JSON-extracted metric — the reference's
    `AVG(TRY_TO_DOUBLE(metadata:score::string))`
    (scripts/compute_company_signal_summaries.py:45-60).  try_cast
    reproduces TRY_TO_DOUBLE's null-on-fail under ANSI mode."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.avg(F.expr("try_cast(get_json_object(props, '$.k') AS DOUBLE)")), 6
        ).alias("avg_k"),
    )


@register(
    "variant_metric_rollup",
    survey="A5,F8 (Spark 4 VARIANT twin)",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN try_cast(json_extract_string(props, '$.k') AS BIGINT)
                          IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
       CAST(sum(coalesce(try_cast(json_extract_string(props, '$.k') AS BIGINT), 0))
            AS BIGINT) AS k_sum,
       CAST(max(try_cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_max
FROM events
GROUP BY event_type
""",
)
def variant_metric_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 on the Spark 4 VARIANT type: `parse_json` converts the props
    string ONCE into the binary-encoded variant, and every field
    access is a `try_variant_get` offset read instead of re-parsing
    the JSON text per extraction — the semi-structured scale path
    (with N extracted fields, string JSON pays N parses per row;
    variant pays one).  Same TRY_TO_DOUBLE null-on-fail semantics as
    `json_metric_rollup` via the try_ variant getter.

    The rollup sums EXACT integer values (k is integral in the
    corpus), so the oracle matches bit-for-bit with no float
    rounding involved."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("pv")
    ).select(
        "event_type",
        F.try_variant_get(F.col("pv"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_k"),
        F.sum(F.coalesce("k", F.lit(0))).cast("bigint").alias("k_sum"),
        F.max("k").cast("bigint").alias("k_max"),
    )


@register(
    "weighted_mean_vr",
    survey="A6,M1,F9",
    bench=True,
    oracle="""
WITH scored AS (
    SELECT l_returnflag,
           CAST((l_partkey * 7 + l_suppkey) % 101 AS DOUBLE) AS score,
           l_quantity / 50.0 AS w,
           greatest(CAST(l_orderkey % 10 AS DOUBLE) / 10.0, 0.2) AS conf_eff
    FROM lineitem
)
SELECT l_returnflag AS group_key,
       round(least(greatest(
           CASE WHEN sum(w * conf_eff) <> 0
                THEN sum(score * w * conf_eff) / sum(w * conf_eff)
                ELSE 0.0 END,
       0.0), 100.0), 6) AS vr_score,
       count(*) AS n_items
FROM scored
GROUP BY l_returnflag
""",
)
def weighted_mean_vr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VR weighted mean (reference app/scoring_engine/vr_model.py:50-96):
    Σ(score·w·conf_eff)/Σ(w·conf_eff) with the 0.20 confidence floor
    and [0,100] clamp — here over deterministic columns derived from
    lineitem keys.  Pure partial-aggregatable column math."""
    li = load(spark, sf_dir, "lineitem")
    scored = li.select(
        "l_returnflag",
        ((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 101).cast("double").alias("score"),
        (F.col("l_quantity") / 50.0).alias("w"),
        F.expr(conf_floor_sql("CAST(l_orderkey % 10 AS DOUBLE) / 10.0D")).alias("conf_eff"),
    )
    wc = F.sum(F.col("w") * F.col("conf_eff"))
    num = F.sum(F.col("score") * F.col("w") * F.col("conf_eff"))
    return scored.groupBy(F.col("l_returnflag").alias("group_key")).agg(
        F.round(clamp(F.when(wc != 0, num / wc).otherwise(F.lit(0.0)), 0.0, 100.0), 6).alias(
            "vr_score"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "hhi_concentration",
    survey="A9,M10",
    oracle="""
WITH per_supp AS (
    SELECT s.s_nationkey, l.l_suppkey, count(*) AS cnt
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (
    SELECT s_nationkey, sum(cnt) AS total
    FROM per_supp GROUP BY s_nationkey
)
SELECT p.s_nationkey AS nation_key,
       round(sum((CAST(p.cnt AS DOUBLE) / t.total) ^ 2), 6) AS hhi,
       CAST(sum(p.cnt) AS BIGINT) AS n_items
FROM per_supp p
JOIN tot t ON p.s_nationkey = t.s_nationkey
GROUP BY p.s_nationkey
""",
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl index over within-group shares — the reference's
    HHI talent concentration (app/scoring_engine/talent_penalty.py:126-140).
    Share denominator via a window sum to avoid a second shuffle."""
    li = load(spark, sf_dir, "lineitem").select("l_suppkey")
    s = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    per_supp = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("s_nationkey")
    share = F.col("cnt").cast("double") / F.sum("cnt").over(w)
    return (
        per_supp.withColumn("share", share)
        .groupBy(F.col("s_nationkey").alias("nation_key"))
        .agg(
            F.round(F.sum(F.pow(F.col("share"), 2)), 6).alias("hhi"),
            F.sum("cnt").alias("n_items"),
        )
    )


@register(
    "cv_penalty",
    survey="A10,M12",
    oracle="""
SELECT l_returnflag AS group_key,
       round(CASE WHEN abs(avg(l_quantity)) > 0
                  THEN stddev_pop(l_quantity) / abs(avg(l_quantity))
                  ELSE 0.0 END, 6) AS cv,
       round(least(greatest(1 - 0.25 * (CASE WHEN abs(avg(l_quantity)) > 0
                  THEN stddev_pop(l_quantity) / abs(avg(l_quantity))
                  ELSE 0.0 END), 0.0), 1.0), 6) AS cv_penalty
FROM lineitem
GROUP BY l_returnflag
""",
)
def cv_penalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient of variation → penalty clamp(1−0.25·cv, 0, 1) —
    reference scripts/run_scoring_engine.py:37-44 + app/scoring/utils.py:16-28."""
    li = load(spark, sf_dir, "lineitem")
    cv_expr = F.when(
        F.abs(F.avg("l_quantity")) > 0,
        F.stddev_pop("l_quantity") / F.abs(F.avg("l_quantity")),
    ).otherwise(F.lit(0.0))
    return li.groupBy(F.col("l_returnflag").alias("group_key")).agg(
        F.round(cv_expr, 6).alias("cv"),
        F.round(clamp(F.lit(1) - 0.25 * cv_expr, 0.0, 1.0), 6).alias("cv_penalty"),
    )


@register(
    "distinct_pairs",
    survey="A15",
    oracle="""
SELECT DISTINCT c_nationkey AS nation_key, c_mktsegment AS segment
FROM customer
""",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (reference scripts/run_scoring_engine.py:557-576)."""
    return (
        load(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nation_key"), F.col("c_mktsegment").alias("segment"))
        .distinct()
    )


@register(
    "approx_distinct",
    survey="A16",
    oracle=None,  # approximate by construction — rows-only check
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) — the scale path the reference
    lacks (SURVEY.md §2.4 A16): exact countDistinct of o_custkey costs
    a full shuffle at 100 TB; HLL sketches merge map-side."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("approx_customers"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "rollup_cube",
    survey="A17",
    oracle="""
SELECT coalesce(c_mktsegment, 'ALL') AS segment,
       coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation_key,
       count(*) AS n,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
GROUP BY ROLLUP (c_mktsegment, c_nationkey)
""",
)
def rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent in the reference, SURVEY.md §2.4
    A17 — provided as the Spark-native capability)."""
    c = load(spark, sf_dir, "customer")
    return (
        c.rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("c_nationkey").cast("string"), F.lit("ALL")).alias("nation_key"),
            "n",
            "total_bal",
        )
    )


@register(
    "corr_pairs",
    survey="A18",
    oracle="""
SELECT l_returnflag AS group_key,
       round(corr(l_quantity, l_extendedprice), 6) AS r_qty_price,
       round(corr(l_discount, l_tax), 6) AS r_disc_tax
FROM lineitem
GROUP BY l_returnflag
""",
)
def corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation aggregate — the reference's np.corrcoef
    cross-dimension matrix (app/scoring_engine/sem_confidence.py:344-364)
    as a distributed aggregate."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("group_key")).agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("r_disc_tax"),
    )


# ---------------------------------------------------------------------------
# §2.5 Window functions / §2.6 sorts & limits
# ---------------------------------------------------------------------------


@register(
    "latest_per_key",
    survey="W1,W2",
    bench=True,
    oracle="""
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       round(o_totalprice, 2) AS total_price
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
    ) AS rn
    FROM orders
)
WHERE rn = 1
""",
)
def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-entity window dedup — the reference's
    `ROW_NUMBER() OVER (PARTITION BY company_id ORDER BY scored_at
    DESC) = 1` (app/routers/scoring.py:222-241).  One shuffle on the
    partition key; deterministic tie-break on the unique key."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@register(
    "median_metric",
    survey="W3",
    oracle="""
SELECT l_returnflag AS group_key,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def median_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / percentile (reference Python middle-element
    median, app/pipelines/job_signals.py:119-124).  Exact `percentile`
    here for oracle parity; at 100 TB swap to `percentile_approx`
    (mergeable sketch, no global sort)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("group_key")).agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
    )


@register(
    "sketch_percentiles",
    survey="W3 (mergeable-sketch scale path)",
    oracle="""
SELECT l_returnflag AS group_key,
       quantile_disc(l_extendedprice, 0.5) AS p50_price,
       quantile_disc(l_extendedprice, 0.9) AS p90_price,
       quantile_disc(l_quantity, 0.99) AS p99_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def sketch_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3's 100 TB form: `percentile_approx` maintains a MERGEABLE
    Greenwald-Khanna sketch per group — map-side partials merge like
    any aggregate, no per-group sort, rank error bounded by
    1/accuracy.  The sketch returns actual data elements (discrete
    quantiles), so with accuracy above the test-corpus group sizes the
    result is exactly DuckDB's quantile_disc — the oracle is exact,
    while at 100 TB the same plan degrades gracefully to ±n/accuracy
    ranks instead of falling over.  Contrast `median_metric` (exact
    interpolated percentile: correct but needs the full value
    multiset per group)."""
    li = load(spark, sf_dir, "lineitem")
    acc = F.lit(10_000_000)
    return li.groupBy(F.col("l_returnflag").alias("group_key")).agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), acc).alias("p50_price"),
        F.percentile_approx("l_extendedprice", F.lit(0.9), acc).alias("p90_price"),
        F.percentile_approx("l_quantity", F.lit(0.99), acc).alias("p99_qty"),
    )


@register(
    "topk_per_group",
    survey="W4,O4",
    bench=True,
    oracle="""
WITH supp_rev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey, l.l_suppkey
)
SELECT s_nationkey AS nation_key, l_suppkey AS supp_key,
       round(revenue, 2) AS revenue, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY s_nationkey ORDER BY revenue DESC, l_suppkey
    ) AS rk
    FROM supp_rev
)
WHERE rk <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k within group — the reference's top-5 keywords per
    dimension (app/scoring_engine/evidence_mapper.py:399-407)."""
    li = load(spark, sf_dir, "lineitem")
    s = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    supp_rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("revenue"), F.asc("l_suppkey"))
    return (
        supp_rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("s_nationkey").alias("nation_key"),
            F.col("l_suppkey").alias("supp_key"),
            F.round("revenue", 2).alias("revenue"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "top_orders",
    survey="O1,O2",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
""",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT leaderboard (reference app/routers/scoring.py:222-241)
    — Spark plans TakeOrderedAndProject (distributed top-k, no global
    sort)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


@register(
    "pagination",
    survey="O3",
    oracle="""
SELECT c_custkey, c_name
FROM (
    SELECT c_custkey, c_name,
           row_number() OVER (ORDER BY c_custkey) AS rn
    FROM customer
)
WHERE rn BETWEEN 101 AND 150
""",
)
def pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination via a row_number window (reference
    app/routers/companies.py:113-170).  Portable across Spark
    deployments (OFFSET needs 3.4+/Connect)."""
    c = load(spark, sf_dir, "customer")
    w = Window.orderBy("c_custkey")
    return (
        c.select("c_custkey", "c_name")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(101, 150))
        .drop("rn")
    )


@register(
    "pagination_keyset",
    survey="O3",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey > 100
ORDER BY c_custkey
LIMIT 50
""",
)
def pagination_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 scale path: KEYSET pagination (seek predicate + limit,
    reference app/routers/companies.py:113-170 semantics).

    The window form (`pagination`) funnels the whole table through one
    task (`row_number() OVER (ORDER BY …)` with no partition key) —
    correct but dead at 100 TB.  Keyset pagination filters
    `key > last_seen` (pushed to the parquet scan) and takes a
    distributed top-k: Spark plans TakeOrderedAndProject — every
    partition keeps 50 rows, the driver merges — no global sort, no
    single-partition exchange, O(page) memory at any scale.
    Plan-pinned in tests/test_plans.py.
    """
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") > 100)
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# §2.7 Set operations / §2.8 scalar function suite
# ---------------------------------------------------------------------------


@register(
    "union_signals",
    survey="U2",
    oracle="""
WITH unioned AS (
    SELECT o_orderkey AS id, 'orders' AS source, o_totalprice AS value
    FROM orders
    UNION ALL
    SELECT event_id AS id, 'events' AS source, value
    FROM events
)
SELECT source, count(*) AS n, round(sum(value), 2) AS total_value
FROM unioned
GROUP BY source
""",
)
def union_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous union normalized to a common schema — the
    reference's evidence union (chunks ∪ signals ∪ glassdoor ∪ board,
    scripts/run_scoring_engine.py:753-796) via unionByName."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"), F.lit("orders").alias("source"),
        F.col("o_totalprice").alias("value"),
    )
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"), F.lit("events").alias("source"), F.col("value")
    )
    return (
        o.unionByName(ev)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "content_hash_dedup",
    survey="S18,F5,U3",
    oracle="""
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def content_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: keep the first row per hash — the
    reference's sha256 content_hash uniqueness probe
    (app/pipelines/external_signals.py:123-124 +
    signal_store.py:21-28).  Aggregate form (min-id per hash) instead
    of a self-join: one shuffle."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "scalar_function_suite",
    survey="F1,F4,F5,F6,F9,F10,F11,F12",
    oracle="""
SELECT n_nationkey AS nation_key,
       upper(n_name) AS name_upper,
       lower(n_name) AS name_lower,
       concat_ws('|', n_name, CAST(n_regionkey AS VARCHAR)) AS concatenated,
       md5(n_name) AS name_md5,
       sha256(n_name) AS name_sha256,
       length(n_name) AS name_len,
       substr(n_name, 1, 3) AS name_prefix,
       round(least(greatest(CAST(n_nationkey AS DOUBLE) * 7.5, 10.0), 100.0), 2) AS clamped,
       CASE WHEN n_regionkey <> 0 THEN round(CAST(n_nationkey AS DOUBLE) / n_regionkey, 4)
            ELSE -1.0 END AS safe_ratio,
       CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
FROM nation
""",
)
def scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One projection exercising the scalar-function families F1–F12
    (case-norm, concat, hashing, clamp, safe division, conditional)
    — reference citations in SURVEY.md §2.8."""
    n = load(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("nation_key"),
        F.upper("n_name").alias("name_upper"),
        F.lower("n_name").alias("name_lower"),
        F.concat_ws("|", F.col("n_name"), F.col("n_regionkey").cast("string")).alias(
            "concatenated"
        ),
        F.md5("n_name").alias("name_md5"),
        F.sha2(F.col("n_name"), 256).alias("name_sha256"),
        F.length("n_name").alias("name_len"),
        F.substring("n_name", 1, 3).alias("name_prefix"),
        F.round(clamp(F.col("n_nationkey").cast("double") * 7.5, 10.0, 100.0), 2).alias(
            "clamped"
        ),
        F.round(
            safe_div(F.col("n_nationkey").cast("double"), F.col("n_regionkey"), -1.0), 4
        ).alias("safe_ratio"),
        F.when(F.col("n_nationkey") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias(
            "parity"
        ),
    )


@register(
    "date_arithmetic",
    survey="F6,F7",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       count(*) AS n,
       CAST(min(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS min_age_days,
       CAST(max(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS max_age_days,
       round(avg(CASE WHEN date_diff('day', DATE '1995-01-01', o_orderdate) / 365.0 <= 1.0
                      THEN 1.0 - date_diff('day', DATE '1995-01-01', o_orderdate) / 365.0
                      ELSE 0.0 END), 6) AS avg_recency_factor
FROM orders
GROUP BY year(o_orderdate)
""",
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: day ages against a fixed anchor + the
    reference's recency factor `1 − days/365` clamped at 0
    (app/pipelines/patent_signals.py:128-143)."""
    o = load(spark, sf_dir, "orders")
    age = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
    rec = F.when(age / 365.0 <= 1.0, F.lit(1.0) - age / 365.0).otherwise(F.lit(0.0))
    return o.groupBy(F.year("o_orderdate").cast("int").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(age).cast("bigint").alias("min_age_days"),
        F.max(age).cast("bigint").alias("max_age_days"),
        F.round(F.avg(rec), 6).alias("avg_recency_factor"),
    )


@register(
    "intersect_except_nations",
    survey="U4",
    oracle="""
SELECT 'both' AS op, n_nationkey
FROM (
    SELECT c_nationkey AS n_nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'customer_only' AS op, n_nationkey
FROM (
    SELECT c_nationkey AS n_nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
)
""",
)
def intersect_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: INTERSECT / EXCEPT (distinct set semantics) — nations that
    have both customers and suppliers vs customer-only nations.
    Spark plans both as aggregated semi/anti joins; at scale these
    are one shuffle each on the set column.

    Reference: SURVEY.md §2.7 U4 (absent as SQL in the reference; Spark-native capability).
    """
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    both = cust.intersect(supp).select(F.lit("both").alias("op"), "n_nationkey")
    # EXCEPT (distinct): dedupe both sides so exceptAll == except
    only = (
        cust.distinct()
        .exceptAll(supp.distinct())
        .select(F.lit("customer_only").alias("op"), "n_nationkey")
    )
    return both.unionByName(only)


@register(
    "ticker_format_validation",
    survey="P9,F2",
    oracle=r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN upper(source) || '-@'
                ELSE upper(source) END AS ticker
    FROM documents
)
SELECT CAST(ticker ~ '^[A-Z][A-Z0-9.\-]{0,9}$' AS BOOLEAN) AS is_valid,
       count(*) AS n,
       min(ticker) AS sample_ticker
FROM t
GROUP BY 1
""",
)
def ticker_format_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: ticker-format regex validation (reference
    collection.py:27,121-123 `^[A-Z][A-Z0-9.\\-]{0,9}$`) as an rlike
    partition of the input — every 7th row is corrupted with an
    invalid character to exercise the reject path."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ticker = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.upper("source"), F.lit("-@"))
    ).otherwise(F.upper("source"))
    return (
        d.select(ticker.alias("ticker"))
        .select(
            F.col("ticker").rlike(r"^[A-Z][A-Z0-9.\-]{0,9}$").alias("is_valid"),
            "ticker",
        )
        .groupBy("is_valid")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ticker").alias("sample_ticker"))
    )


@register(
    "regional_revenue_q5",
    survey="J1,J2,P5,A1 (multi-join perf anchor)",
    bench=True,
    oracle="""
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
)
def regional_revenue_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join: the classic star probe with a
    fact×fact SMJ in the middle.  Plan shape under grading: region/
    nation/supplier broadcast (zero fact shuffle for them), the date
    filter pushed into the orders scan BEFORE the lineitem join, and
    lineitem⋈orders as the only keyed shuffle.  This is the bench
    anchor for multi-join planning quality.

    Reference: the J1/J2 join chain (sector_config.py:23-41, run_scoring_engine.py:753-773) at TPC-H Q5 shape.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders")
    o = o.filter(
        (F.col("o_orderdate") >= _tlit(o, "o_orderdate", "1996-01-01"))
        & (F.col("o_orderdate") < _tlit(o, "o_orderdate", "1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "rolling_window_metrics",
    bench=True,
    survey="W5 (extension: range/rows analytic frames the reference lacks)",
    oracle=f"""
WITH e AS (
    SELECT user_id, event_id,
           epoch_ns(ts) AS ts_ns,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
)
SELECT user_id, event_id, ts_ns,
       CAST(count(*) OVER trailing_day AS BIGINT) AS roll_cnt,
       CAST(sum(cents) OVER trailing_day AS BIGINT) AS roll_cents,
       round(CAST(sum(cents) OVER trailing_day AS BIGINT)
             / (count(*) OVER trailing_day * 100.0), 6) AS roll_avg,
       CAST(sum(cents) OVER cum AS BIGINT) AS cum_cents
FROM e
WINDOW trailing_day AS (
    PARTITION BY user_id ORDER BY ts_ns
    RANGE BETWEEN {DAY_NS} PRECEDING AND CURRENT ROW
),
cum AS (
    PARTITION BY user_id ORDER BY ts_ns, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
""",
)
def rolling_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h RANGE frame (count / sum / derived avg) plus a
    cumulative ROWS frame per user — the lag/lead/running-total
    analytics SURVEY §2.5 marks **absent** (W5) in the reference,
    provided as the extension every event pipeline needs.

    Determinism: value is quantized to integer cents and the avg is
    derived from the exact integer sum, so frame aggregation order
    can't drift; the ROWS frame is tie-broken by event_id.  ts stays
    int64-ns (µs-truncated to match the oracle's epoch_ns).

    Scale shape: ONE shuffle on user_id serves both frames; Spark's
    window operator keeps the trailing-range state per partition in a
    single sorted pass (no self-join n² rolling).  No fan_out: the
    window's own hash exchange is the first operation, so a prior
    round-robin repartition would be a second, wasted full shuffle."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (F.col("ts") - F.col("ts") % 1000).alias("ts_ns"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    day = Window.partitionBy("user_id").orderBy("ts_ns").rangeBetween(-DAY_NS, 0)
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    roll_cents = F.sum("cents").over(day).cast("bigint")
    roll_cnt = F.count(F.lit(1)).over(day)
    return e.select(
        "user_id",
        "event_id",
        "ts_ns",
        roll_cnt.cast("bigint").alias("roll_cnt"),
        roll_cents.alias("roll_cents"),
        F.round(roll_cents / (roll_cnt * F.lit(100.0)), 6).alias("roll_avg"),
        F.sum("cents").over(cum).cast("bigint").alias("cum_cents"),
    )


_PROFILE_COLS = ("o_custkey", "o_totalprice", "o_orderpriority", "o_orderkey")


@register(
    "column_profile",
    bench=True,
    survey="A15,A16 (extension: table audit profile)",
    oracle=f"""
SELECT col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(v) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
       round(min(v), 2) AS min_v,
       round(max(v), 2) AS max_v
FROM (
    {" UNION ALL ".join(f"SELECT '{c}' AS col, TRY_CAST({c} AS DOUBLE) AS v FROM orders" for c in _PROFILE_COLS)}
)
GROUP BY col
""",
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column audit profile (rows / non-null / distinct / min /
    max) over orders columns, try_cast to double so non-numeric
    columns surface as null-rate (TRY_TO_DOUBLE semantics, F8) — the
    data-quality sweep a pipeline runs on every new ingest drop.

    Spark shape: one `stack` unpivot (no self-union of scans — the
    table is read ONCE) into (col, v) then a single groupBy; distinct
    counts are exact here, with `approx_distinct` as the registered
    sketch path at scale.  fan_out (r13, guide §2.5 input skew): the
    Generate + try_casts + the (col, v)-keyed partial aggregation all
    run in the scan stage, which the single-row-group test parquet
    pins to ONE task — measured A/B at sf0.1: fanned medians beat
    unfanned in both interleaved passes."""
    o = load(spark, sf_dir, "orders", fan_out=True).select(*_PROFILE_COLS)
    stack_expr = "stack({n}, {args}) as (col, v)".format(
        n=len(_PROFILE_COLS),
        args=", ".join(f"'{c}', try_cast({c} AS DOUBLE)" for c in _PROFILE_COLS),
    )
    long = o.selectExpr(stack_expr)
    return long.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("v").cast("bigint").alias("n_nonnull"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.round(F.min("v"), 2).alias("min_v"),
        F.round(F.max("v"), 2).alias("max_v"),
    )


_TOP_SUPPLIER_SQL = """
SELECT s.s_nationkey AS nationkey, s.s_suppkey AS suppkey,
       s.s_name AS supplier_name, round(s.s_acctbal, 2) AS acctbal
FROM {supplier} s
WHERE s.s_acctbal = (
    SELECT max(s2.s_acctbal) FROM {supplier} s2
    WHERE s2.s_nationkey = s.s_nationkey
)
"""


@register(
    "correlated_max_supplier",
    survey="S15,W2 (extension: correlated scalar subquery, SQL API)",
    oracle=_TOP_SUPPLIER_SQL.format(supplier="supplier"),
)
def correlated_max_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated scalar subquery — the richest-
    supplier-per-nation lookup — submitted through `spark.sql` over a
    temp view: the engine's SQL surface runs the EXACT text the DuckDB
    oracle runs.  Catalyst decorrelates the subquery into an
    aggregate + join (no per-row re-execution), so the plan is two
    scans of supplier and one shuffle — same asymptotics as the
    window-function form (W2), and the same answer for ties (all
    max-tied suppliers returned)."""
    sup = load(spark, sf_dir, "supplier")
    view = "correlated_max_supplier_v"
    sup.createOrReplaceTempView(view)
    return spark.sql(_TOP_SUPPLIER_SQL.format(supplier=view))


@register(
    "full_outer_reconciliation",
    survey="J9,U4 (extension: cross-source reconciliation audit)",
    oracle="""
WITH o AS (
    SELECT o_orderkey AS k, round(o_totalprice, 2) AS total_header
    FROM orders WHERE o_orderkey % 7 <> 0
),
l AS (
    SELECT l_orderkey AS k,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS total_lines
    FROM lineitem WHERE l_orderkey % 5 <> 0
    GROUP BY l_orderkey
)
SELECT CASE WHEN o.k IS NULL THEN 'lines_only'
            WHEN l.k IS NULL THEN 'header_only'
            ELSE 'both' END AS presence,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN o.k IS NOT NULL AND l.k IS NOT NULL
                      AND abs(total_header - total_lines) > 1.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_amount_drift
FROM o FULL OUTER JOIN l ON o.k = l.k
GROUP BY 1
""",
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source reconciliation: order headers vs line-derived
    totals through a FULL OUTER join, classifying each key as
    both/header_only/lines_only and counting amount drifts > $1 —
    the audit every ingest pipeline runs when two systems claim the
    same facts.  (The % filters simulate each source's missing rows.)

    Scale shape: one shuffle on the join key for each side (the line
    rollup partial-aggregates first, so the join carries one row per
    order, not per line)."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.round("o_totalprice", 2).alias("total_header"),
        )
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 != 0)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("total_lines")
        )
    )
    j = o.join(li, "k", "full_outer").select(
        F.when(F.col("total_header").isNull(), F.lit("lines_only"))
        .when(F.col("total_lines").isNull(), F.lit("header_only"))
        .otherwise(F.lit("both"))
        .alias("presence"),
        "total_header",
        "total_lines",
    )
    drift = (
        F.col("total_header").isNotNull()
        & F.col("total_lines").isNotNull()
        & (F.abs(F.col("total_header") - F.col("total_lines")) > 1.0)
    )
    return j.groupBy("presence").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(drift.cast("int")).cast("bigint").alias("n_amount_drift"),
    )


@register(
    "null_safe_join",
    survey="F13,J9 (extension: null-safe equality join)",
    oracle="""
WITH o AS (
    SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_key, o_totalprice
    FROM orders
),
d AS (
    SELECT * FROM (VALUES ('F', 'finished'), ('P', 'pending'), (NULL, 'open'))
        t(status_key, status_name)
)
SELECT d.status_name, count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS total
FROM o JOIN d ON o.status_key IS NOT DISTINCT FROM d.status_key
GROUP BY d.status_name
""",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently dropping — the semantics
    a status-dimension join needs when NULL is itself a meaningful
    bucket ('open' here, built via nullif).  A plain equi-join would
    lose every open order; this is the classic silent-data-loss bug
    the operator exists to prevent."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_key"),
        "o_totalprice",
    )
    d = spark.createDataFrame(
        [("F", "finished"), ("P", "pending"), (None, "open")],
        "status_key string, status_name string",
    )
    j = o.join(F.broadcast(d), o["status_key"].eqNullSafe(d["status_key"]))
    return j.groupBy("status_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "monthly_revenue_trend",
    survey="F6 (extension: calendar bucketing)",
    oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY 1
""",
)
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month revenue trend: date_trunc bucketing over the
    NTZ order date — calendar semantics (variable month lengths) that
    epoch-floor arithmetic can't express.  NTZ in, NTZ out: no session
    timezone enters the bucketing, so the hostile-session gate and the
    naive DuckDB oracle agree exactly.

    Revenue is an exact-integer cents sum surfaced as INT64 CENTS —
    at sf0.1 a month's revenue (~4.4e8 at 2 decimals) sits in the
    magnitude band where NO double representation is fixed-point
    (ulp(revenue·1e7) ≈ 1), so doubles flunk the float-hygiene lint;
    and a DECIMAL carrier hash-diverges in the driver comparator
    (Spark decimal(26,6) vs DuckDB's decimal/int → DOUBLE division
    promotion — the r7 mom_revenue_growth red row).  Int64 cents is
    the one output type both engines materialize identically."""
    o = load(spark, sf_dir, "orders")
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    return (
        o.filter(F.col("o_orderdate") >= _tlit(o, "o_orderdate", "1996-01-01"))
        .groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            cents.alias("revenue_cents"),
        )
    )


@register(
    "rank_family_metrics",
    survey="W5 (extension: ntile / percent_rank / cume_dist)",
    oracle="""
WITH ranked AS (
    SELECT c_mktsegment AS segment, c_custkey AS key,
           round(c_acctbal, 2) AS acctbal,
           CAST(ntile(10) OVER w AS INT) AS decile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
)
SELECT segment, decile,
       count(*) AS n,
       round(min(acctbal), 2) AS lo,
       round(max(acctbal), 2) AS hi,
       round(max(pct_rank), 6) AS max_pct_rank,
       round(max(cume), 6) AS max_cume
FROM ranked
GROUP BY segment, decile
""",
)
def rank_family_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding per segment with the full rank family — ntile
    buckets, percent_rank, cume_dist — rolled up to per-decile bounds
    (the account-balance tiering a portfolio report needs).  Ordering
    is tie-broken by key so every rank function is deterministic;
    percent_rank/cume_dist are exact rationals, safe to round."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
    return ranked.groupBy("segment", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("acctbal"), 2).alias("lo"),
        F.round(F.max("acctbal"), 2).alias("hi"),
        F.round(F.max("pct_rank"), 6).alias("max_pct_rank"),
        F.round(F.max("cume"), 6).alias("max_cume"),
    )


@register(
    "orphan_fk_check",
    survey="J9,U3 (extension: referential-integrity audit)",
    oracle="""
SELECT 'lineitem_without_order' AS violation,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'order_without_customer',
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
""",
)
def orphan_fk_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: count fact rows whose foreign key
    has no parent (anti-join per FK edge) — the DQ gate an ingest
    pipeline runs before publishing a snapshot.  Anti-joins broadcast
    nothing here: the PARENT side is the smaller one and builds the
    hash table; zero violations is the expected (and asserted) state
    on consistent TPC-H data."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    v1 = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.lit("lineitem_without_order").alias("violation"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_keys"),
    )
    v2 = o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
        F.lit("order_without_customer").alias("violation"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_keys"),
    )
    return v1.unionByName(v2)


@register(
    "best_order_per_customer",
    survey="W2 (extension: max_by argmax without a window)",
    oracle="""
SELECT customer, best_order, best_total
FROM (
    SELECT o_custkey AS customer, o_orderkey AS best_order,
           round(o_totalprice, 2) AS best_total,
           row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC
           ) AS rk
    FROM orders
)
WHERE rk = 1
""",
)
def best_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax WITHOUT a window: each customer's highest-value order via
    max of a (price, orderkey) struct — one partial-aggregating
    groupBy instead of a sort-the-whole-partition window (W2's
    latest-row lookup at aggregation cost).  The orderkey rides the
    struct as tie-break, making the argmax deterministic — the same
    (o_totalprice, o_orderkey) pair ordering DuckDB's arg_max gets."""
    o = load(spark, sf_dir, "orders")
    m = F.max(F.struct("o_totalprice", "o_orderkey")).alias("m")
    return (
        o.groupBy(F.col("o_custkey").alias("customer"))
        .agg(m)
        .select(
            "customer",
            F.col("m.o_orderkey").alias("best_order"),
            F.round(F.col("m.o_totalprice"), 2).alias("best_total"),
        )
    )


@register(
    "pandas_api_bridge",
    survey="§2.11 (extension: pandas-on-Spark API surface)",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
FROM orders
GROUP BY o_orderpriority
""",
)
def pandas_api_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-on-Spark bridge: a pandas-shaped groupby/agg over
    the orders table via `pyspark.pandas`, converted back with
    to_spark() — the migration path for pandas-fluent teams.  Every
    ps operation here compiles to the same Catalyst plan the native
    DataFrame API produces (verified by the equivalence test); the
    bridge costs nothing at execution time.

    Hash-stability: totals are summed as exact integer CENTS (2dp
    prices scaled before the aggregate) with one final division — a
    double-sum + pandas round(2) is summation-order dependent."""
    import pyspark.pandas as ps

    psdf = ps.DataFrame(load(spark, sf_dir, "orders"))
    psdf["cents"] = (psdf["o_totalprice"] * 100).round(0).astype("int64")
    out = (
        psdf.groupby("o_orderpriority")
        .agg(n=("o_orderkey", "count"), cents=("cents", "sum"))
        .reset_index()
    )
    out["total"] = out["cents"] / 100.0
    sdf = out.to_spark()
    return sdf.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("n").cast("bigint").alias("n"),
        "total",
    )


@register(
    "mad_outlier_flags",
    survey="A10,W3 (extension: median-absolute-deviation outliers)",
    oracle="""
WITH vals AS (
    SELECT c_mktsegment AS segment, c_custkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY segment ORDER BY cents, c_custkey) AS rn,
           count(*) OVER (PARTITION BY segment) AS n
    FROM vals
),
med AS (
    SELECT segment,
           CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
              + sum(CASE WHEN rn = (n + 2) // 2 THEN cents ELSE 0 END) AS BIGINT) AS med2
    FROM ranked GROUP BY segment
),
devs AS (
    SELECT v.segment, v.c_custkey, v.cents,
           abs(2 * v.cents - m.med2) AS dev2
    FROM vals v JOIN med m ON v.segment = m.segment
),
dev_ranked AS (
    SELECT *, row_number() OVER (PARTITION BY segment ORDER BY dev2, c_custkey) AS rn,
           count(*) OVER (PARTITION BY segment) AS n
    FROM devs
),
mad AS (
    SELECT segment,
           CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END)
              + sum(CASE WHEN rn = (n + 2) // 2 THEN dev2 ELSE 0 END) AS BIGINT) AS mad4
    FROM dev_ranked GROUP BY segment
)
SELECT d.segment,
       CAST(count(*) AS BIGINT) AS n,
       round(max(m.med2) / 200.0, 2) AS median_bal,
       round(max(m2.mad4) / 400.0, 2) AS mad,
       CAST(sum(CASE WHEN 2 * d.dev2 > 3 * m2.mad4 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM devs d
JOIN med m ON d.segment = m.segment
JOIN mad m2 ON d.segment = m2.segment
GROUP BY d.segment
""",
)
def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per segment: |x − median| > 3·MAD.
    Both medians are RANK-SELECTED over integer cents (the two middle
    elements summed, ×2/×4 scaling) so the whole computation is exact
    integer arithmetic until the final display division — no
    interpolation formula, no FP accumulation, bit-identical across
    engines.  Two window passes + broadcast-size per-segment stats;
    at scale the rank selection swaps for approx_percentile with the
    same flag expression."""
    c = load(spark, sf_dir, "customer")
    vals = c.select(
        F.col("c_mktsegment").alias("segment"),
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )

    def two_middle_sum(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("segment").orderBy(col, "c_custkey")
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("segment"))
        )
        return ranked.groupBy("segment").agg(
            (
                F.sum(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col(col)).otherwise(0))
                + F.sum(F.when(F.col("rn") == F.expr("(n + 2) div 2"), F.col(col)).otherwise(0))
            ).cast("bigint").alias(out)
        )

    med = two_middle_sum(vals, "cents", "med2")
    devs = vals.join(F.broadcast(med), "segment").select(
        "segment", "c_custkey", "cents",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("dev2"),
    )
    mad = two_middle_sum(devs, "dev2", "mad4")
    d = devs.join(F.broadcast(med), "segment").join(F.broadcast(mad), "segment")
    return d.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max("med2") / 200.0, 2).alias("median_bal"),
        F.round(F.max("mad4") / 400.0, 2).alias("mad"),
        F.sum(
            F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
        ).cast("bigint").alias("n_outliers"),
    )


@register(
    "fuzzy_match_parts",
    survey="S18,F2 (extension: edit-distance entity resolution)",
    oracle="""
WITH p AS (
    SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk,
           length(p_name) AS ln
    FROM part
)
SELECT a.blk AS block,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(levenshtein(a.p_name, b.p_name)) AS INT) AS min_dist,
       CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dist3
FROM p a JOIN p b
  ON a.blk = b.blk AND abs(a.ln - b.ln) <= 2 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3 AND a.p_name <> b.p_name
GROUP BY a.blk
""",
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance entity resolution: near-identical part names
    (Levenshtein ≤ 3, excluding exact equals; rolled up per block) —
    the fuzzy-dedup join
    a catalog-ingest pipeline runs on vendor feeds.  Blocking on
    (first char, ±2 length) keeps the candidate join quadratic only
    within tiny blocks — the same block-then-verify shape as the LSH
    operators, with edit distance as the verifier.  Levenshtein is a
    well-defined metric, so both engines agree exactly."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name",
        F.substring("p_name", 1, 1).alias("blk"),
        F.length("p_name").alias("ln"),
    )
    a = p.select(
        F.col("p_partkey").alias("part_a"), F.col("p_name").alias("name_a"),
        "blk", F.col("ln").alias("ln_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"), F.col("p_name").alias("name_b"),
        "blk", F.col("ln").alias("ln_b"),
    )
    cand = (
        a.join(b, "blk")
        .filter(
            (F.abs(F.col("ln_a") - F.col("ln_b")) <= 2)
            & (F.col("part_a") < F.col("part_b"))
        )
    )
    dist = F.levenshtein("name_a", "name_b")
    pairs = (
        cand.select("blk", dist.cast("int").alias("edit_dist"), "name_a", "name_b")
        .filter((F.col("edit_dist") <= 3) & (F.col("name_a") != F.col("name_b")))
    )
    return pairs.groupBy(F.col("blk").alias("block")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("edit_dist").cast("int").alias("min_dist"),
        F.sum((F.col("edit_dist") == 3).cast("int")).cast("bigint").alias("n_dist3"),
    )


@register(
    "revenue_share_report",
    survey="W5,A2 (extension: ratio-to-report window)",
    oracle="""
WITH nation_rev AS (
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
)
SELECT nation,
       round(rev_cents / 100.0, 2) AS revenue,
       round(rev_cents / CAST(sum(rev_cents) OVER () AS DOUBLE), 6) AS share
FROM nation_rev
""",
)
def revenue_share_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of total supplier revenue
    via an unpartitioned window sum over the (25-row) aggregate —
    the percent-of-total column every report has.  Revenue is summed
    in integer cents so the share division is one exact-integer
    ratio; the global window runs over post-aggregation rows, never
    the fact table."""
    li = load(spark, sf_dir, "lineitem")
    s = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    nation_rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(cents).cast("bigint").alias("rev_cents"))
    )
    total = F.sum("rev_cents").over(Window.partitionBy())
    return nation_rev.select(
        "nation",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("rev_cents") / total.cast("double"), 6).alias("share"),
    )


@register(
    "trimmed_mean_balances",
    survey="A10,W3 (extension: 5% trimmed mean)",
    oracle="""
WITH ranked AS (
    SELECT c_mktsegment AS segment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
           row_number() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
           ) AS rn,
           count(*) OVER (PARTITION BY c_mktsegment) AS n
    FROM customer
)
SELECT segment,
       CAST(sum(CASE WHEN rn > n // 20 AND rn <= n - n // 20 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       round(sum(CASE WHEN rn > n // 20 AND rn <= n - n // 20 THEN cents ELSE 0 END)
             / (100.0 * sum(CASE WHEN rn > n // 20 AND rn <= n - n // 20 THEN 1 ELSE 0 END)),
             4) AS trimmed_mean,
       round(sum(cents) / (100.0 * count(*)), 4) AS plain_mean
FROM ranked
GROUP BY segment
""",
)
def trimmed_mean_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% trimmed mean per segment: drop the lowest and highest n/20
    rank positions (deterministic (value, key) ordering) and average
    the integer-cent remainder — the outlier-robust center a
    financial rollup reports next to the plain mean.  Exact integer
    sums, one division at display."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment")).alias("n"),
    )
    kept = (F.col("rn") > F.expr("n div 20")) & (
        F.col("rn") <= F.col("n") - F.expr("n div 20")
    )
    return ranked.groupBy("segment").agg(
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.round(
            F.sum(F.when(kept, F.col("cents")).otherwise(0))
            / (F.lit(100.0) * F.sum(kept.cast("int"))),
            4,
        ).alias("trimmed_mean"),
        F.round(F.sum("cents") / (F.lit(100.0) * F.count(F.lit(1))), 4).alias(
            "plain_mean"
        ),
    )


_Z_BITS = 8


def _morton_sql(xcol: str, ycol: str) -> str:
    """Engine-portable Morton (Z-order) interleave of two 8-bit ints
    as a sum of literal-multiplier terms — no shift-operator dialect
    differences, pure integer arithmetic."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({xcol} >> {i}) & 1) * {4 ** i}")
        terms.append(f"(({ycol} >> {i}) & 1) * {2 * 4 ** i}")
    return " + ".join(terms)


@register(
    "zorder_layout_stats",
    survey="§4 layout (extension: Z-order clustering key)",
    oracle=f"""
WITH q AS (
    SELECT o_orderkey,
           CAST(o_custkey % 256 AS BIGINT) AS xq,
           CAST(epoch_ns(o_orderdate) // {DAY_NS} % 256 AS BIGINT) AS yq
    FROM orders
),
z AS (
    SELECT o_orderkey, xq, yq,
           CAST({_morton_sql('xq', 'yq')} AS BIGINT) AS zkey
    FROM q
)
SELECT zkey // 1024 AS zbucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(xq) - min(xq) AS BIGINT) AS x_span,
       CAST(max(yq) - min(yq) AS BIGINT) AS y_span
FROM z
GROUP BY zkey // 1024
""",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day):
    interleaving the two 8-bit quantized dims gives a 1-D sort key
    whose buckets stay LOCAL in both dimensions — the per-bucket
    x/y spans this query reports are what make min/max row-group
    pruning effective on EITHER filter column after a z-sorted write
    (Delta's ZORDER BY, built from scratch).  The interleave is a sum
    of literal-multiplier bit terms — portable integer arithmetic, no
    shift-operator dialect."""
    o = load(spark, sf_dir, "orders")
    q = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("bigint").alias("xq"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 256
        ).cast("bigint").alias("yq"),
    )
    z = q.select(
        "o_orderkey", "xq", "yq",
        F.expr(f"CAST({_morton_sql('xq', 'yq')} AS BIGINT)").alias("zkey"),
    )
    return z.groupBy(F.expr("zkey div 1024").alias("zbucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.max("xq") - F.min("xq")).cast("bigint").alias("x_span"),
        (F.max("yq") - F.min("yq")).cast("bigint").alias("y_span"),
    )


@register(
    "value_tier_rangejoin",
    survey="J8 (extension: band/range join against a tier table)",
    oracle="""
WITH tiers(tier, lo, hi) AS (
    VALUES ('low', 0.0, 5.0), ('mid', 5.0, 20.0),
           ('high', 20.0, 100.0), ('extreme', 100.0, 1e18)
)
SELECT t.tier,
       CAST(count(*) AS BIGINT) AS n_events,
       round(min(e.value), 2) AS min_v,
       round(max(e.value), 2) AS max_v
FROM events e
JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY t.tier
""",
)
def value_tier_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: each event matched to the tier whose
    [lo, hi) interval contains its value — the literal-bounds variant
    of the interval join family (J8).  The tier table is 4 rows, so
    Spark plans a broadcast nested-loop join with the range predicate
    evaluated in codegen — the RIGHT plan here; banding only becomes a
    bucket-key equi-join when BOTH sides are large (see
    click_error_followups for that shape)."""
    ev = load(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 20.0),
         ("high", 20.0, 100.0), ("extreme", 100.0, 1e18)],
        "tier string, lo double, hi double",
    )
    j = ev.join(
        F.broadcast(tiers),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return j.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
    )


@register(
    "grouping_sets_census",
    survey="A17 (extension: explicit GROUPING SETS + grouping_id)",
    oracle="""
SELECT coalesce(c_mktsegment, 'ALL') AS segment,
       coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation_key,
       CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey) AS INT) AS gid,
       count(*) AS n,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
""",
)
def grouping_sets_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-segment totals, per-nation totals,
    and the grand total in ONE pass (neither ROLLUP nor CUBE: the
    (segment, nation) pair level is deliberately absent), with
    grouping_id disambiguating which set produced each row.  One
    Expand + one aggregation — three scans' worth of rollups for one
    shuffle."""
    c = load(spark, sf_dir, "customer")
    c.createOrReplaceTempView("grouping_sets_census_v")
    return spark.sql(
        """
        SELECT coalesce(c_mktsegment, 'ALL') AS segment,
               coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nation_key,
               CAST(grouping(c_mktsegment) * 2 + grouping(c_nationkey) AS INT) AS gid,
               count(*) AS n,
               round(sum(c_acctbal), 2) AS total_bal
        FROM grouping_sets_census_v
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@register(
    "k_anonymity_audit",
    survey="A15 (extension: k-anonymity over quasi-identifiers)",
    oracle="""
WITH groups AS (
    SELECT c_mktsegment, c_nationkey, count(*) AS k
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_5,
       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_rows_at_risk
FROM groups
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (segment, nation) quasi-identifier
    pair: group sizes, the minimum k, and how many rows sit in groups
    smaller than k=5 — the re-identification check a dataset release
    (or training-corpus export) runs before publishing.  One partial-
    aggregated groupBy plus a scalar rollup."""
    c = load(spark, sf_dir, "customer")
    groups = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("k")
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum((F.col("k") < 5).cast("int")).cast("bigint").alias("n_below_5"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
    )


@register(
    "pii_masking",
    survey="F5 (extension: deterministic PII masking)",
    oracle="""
SELECT c_custkey AS key,
       substr(c_name, 1, 2) || '***' AS name_masked,
       substr(md5('pepper-77|' || c_name), 1, 16) AS name_token,
       CAST(length(c_name) AS INT) AS name_len
FROM customer
WHERE c_custkey < 100
""",
)
def pii_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII masking: a format-hinting partial mask (first
    two chars + '***') for display, and a peppered-hash pseudonym
    token that stays JOINABLE across tables and runs without exposing
    the value — the pattern that lets a masked training corpus still
    support entity-level dedup and linkage.  Pure column expressions;
    the pepper would come from a secret store, never the repo."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.select(
        F.col("c_custkey").alias("key"),
        F.concat(F.substring("c_name", 1, 2), F.lit("***")).alias("name_masked"),
        F.substring(
            F.md5(F.concat(F.lit("pepper-77|"), F.col("c_name"))), 1, 16
        ).alias("name_token"),
        F.length("c_name").cast("int").alias("name_len"),
    )


# Benford expected first-digit proportions log10(1 + 1/d), d=1..9,
# precomputed as literals so both engines compare the same constants.
_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}
_BENFORD_VALUES = ", ".join(f"({d}, {p})" for d, p in _BENFORD.items())


@register(
    "benford_digit_audit",
    survey="A1 (extension: Benford first-digit fraud/quality audit)",
    oracle=f"""
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
        AS d
    FROM orders WHERE o_totalprice >= 1
),
expected(d, p) AS (VALUES {_BENFORD_VALUES}),
obs AS (
    SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM obs)
SELECT e.d AS digit,
       coalesce(o.n, 0) AS n,
       round(coalesce(o.n, 0) / CAST(t.n_tot AS DOUBLE), 6) AS observed,
       CAST(e.p AS DOUBLE) AS expected,
       round(abs(coalesce(o.n, 0) / CAST(t.n_tot AS DOUBLE) - e.p), 6) AS abs_dev
FROM expected e LEFT JOIN obs o ON e.d = o.d CROSS JOIN tot t
""",
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed vs
    expected log10(1+1/d) proportions and per-digit deviation — the
    anomaly screen auditors run on financial facts (fabricated data
    rarely matches Benford).  Expected proportions ship as literal
    constants so no log evaluates at query time; the observed ratios
    divide exact integer counts."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    expected = o.sparkSession.createDataFrame(
        [(d, p) for d, p in _BENFORD.items()], "d int, p double"
    )
    # n_tot rides as a 1-row broadcast agg over the ≤9-row obs frame
    # (Σ n over every digit group == the row count) instead of an
    # eager digits.count() — r13, guide §1.2: the count was a second
    # full scan of orders per run; this mirrors the oracle's own
    # `tot AS (SELECT sum(n) FROM obs)` shape.
    tot = obs.agg(F.sum("n").cast("bigint").alias("n_tot"))
    ratio = F.coalesce(F.col("n"), F.lit(0)) / F.col("n_tot").cast("double")
    out = (
        expected.alias("e")
        .join(obs.alias("o"), "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.round(ratio, 6).alias("observed"),
            F.col("p").alias("expected"),
            F.round(F.abs(ratio - F.col("p")), 6).alias("abs_dev"),
        )
    )
    return out


@register(
    "weighted_median_grouped_agg",
    survey="§2.11 (grouped-agg pandas UDF custom aggregate), W3",
    oracle=r"""
WITH w AS (
    SELECT l_returnflag AS grp, l_extendedprice AS v,
           CAST(l_quantity AS BIGINT) AS wt
    FROM lineitem
),
c AS (
    SELECT grp, v,
           sum(wt) OVER (PARTITION BY grp ORDER BY v
                         ROWS UNBOUNDED PRECEDING) AS cw,
           sum(wt) OVER (PARTITION BY grp) AS tw
    FROM w
)
SELECT grp,
       CAST((SELECT count(*) FROM w w2 WHERE w2.grp = c.grp) AS BIGINT) AS n_rows,
       CAST(max(tw) AS BIGINT) AS total_weight,
       min(v) AS weighted_median
FROM c
WHERE cw * 2 >= tw
GROUP BY grp
""",
)
def weighted_median_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag via a
    GROUPED-AGG pandas UDF — the custom-aggregate flavor of the UDF
    surface (§2.11): the kernel receives each group's columns as
    pandas Series and returns one scalar (Spark forbids mixing it
    with JVM aggregates, so the native count/sum stats run as their
    own pass and broadcast-join back).  The statistic is rank-SELECTED
    (smallest value whose cumulative weight reaches half the total),
    so it returns an exact input value and both engines agree
    bit-for-bit — no interpolation formula to drift.

    Scale note: grouped-agg UDFs hold one group in memory per call —
    the right tool for per-group statistics with no algebraic
    decomposition; with 3 return-flag groups the parallelism is the
    group count, which is why the native rank-select twin
    (`median_metric`) remains the high-cardinality path."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module-level `from __future__ import
    # annotations` stringifies type hints, which defeats pandas_udf's
    # signature-based eval-type inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmedian(v, wt):
        df = pd.DataFrame({"v": v, "wt": wt}).sort_values("v")
        cw = df["wt"].cumsum()
        total = int(df["wt"].sum())
        return float(df.loc[cw * 2 >= total, "v"].iloc[0])

    li = load(spark, sf_dir, "lineitem", fan_out=True).select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    # grouped-agg UDFs cannot share an .agg() with JVM aggregates —
    # the native stats ride a separate (cheap, partial-agg) pass,
    # joined back on the 3-row group key
    native = li.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("wt").cast("bigint").alias("total_weight"),
    )
    medians = li.groupBy("grp").agg(
        wmedian(F.col("v"), F.col("wt")).alias("weighted_median")
    )
    return native.join(F.broadcast(medians), "grp").select(
        "grp", "n_rows", "total_weight", "weighted_median"
    )


@register(
    "unpivot_profit_metrics",
    survey="A4-inverse (extension: unpivot/melt wide metrics to long)",
    oracle="""
WITH wide AS (
    SELECT o_orderpriority AS priority,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY 1
)
SELECT priority, metric, CAST(value AS DOUBLE) AS value
FROM wide
UNPIVOT (value FOR metric IN (total_price, n_orders, avg_price))
""",
)
def unpivot_profit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of the manual-pivot operator (A4):
    a wide per-priority metrics row becomes (priority, metric, value)
    long form, the shape BI metric stores and ML feature tables want.
    Native `DataFrame.unpivot` (Expand under the hood — no shuffle,
    no UDF); the oracle is DuckDB's UNPIVOT clause.

    avg is derived as a rounded division of exact aggregates on both
    sides, so the melted doubles hash-match."""
    o = load(spark, sf_dir, "orders")
    wide = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )
    return wide.unpivot(
        ids=["priority"],
        values=["total_price", "n_orders", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "data_quality_expectations",
    survey="P-extension (declarative data-quality expectation suite)",
    oracle="""
SELECT * FROM (
    SELECT 'orders.o_orderkey.not_null' AS expectation,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderkey.unique',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_totalprice.range_0_1e7',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1e7
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_orderkey.fk_orders',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_discount.range_0_1',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
)
""",
)
def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the dbt-test /
    Great-Expectations pattern as one DataFrame): not-null, key
    uniqueness, value ranges, and referential integrity evaluated in
    a single pass per table and emitted as (expectation, n_checked,
    n_violations) — the audit row a pipeline gate consumes.

    Scale shape: each expectation is a partial-agg scan or an anti
    join (the FK probe) — no row-level materialization of violations;
    at 100 TB the same suite runs as one pass per source table."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def row(name, df):
        return df.select(
            F.lit(name).alias("expectation"),
            F.col("n_checked").cast("bigint").alias("n_checked"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )

    not_null = row(
        "orders.o_orderkey.not_null",
        o.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.col("o_orderkey").isNull().cast("int")).alias("n_violations"),
        ),
    )
    unique = row(
        "orders.o_orderkey.unique",
        o.agg(
            F.count(F.lit(1)).alias("n_checked"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_violations"),
        ),
    )
    price_range = row(
        "orders.o_totalprice.range_0_1e7",
        o.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(
                ((F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1e7)).cast(
                    "int"
                )
            ).alias("n_violations"),
        ),
    )
    orphans = li.join(
        o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti"
    )
    fk = (
        li.agg(F.count(F.lit(1)).alias("n_checked"))
        .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_violations")))
        .transform(lambda df: row("lineitem.l_orderkey.fk_orders", df))
    )
    disc_range = row(
        "lineitem.l_discount.range_0_1",
        li.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(
                ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("int")
            ).alias("n_violations"),
        ),
    )
    return not_null.unionAll(unique).unionAll(price_range).unionAll(fk).unionAll(
        disc_range
    )


@register(
    "hll_sketch_rollup",
    survey="A16 (extension: re-aggregatable HLL sketch merge)",
    # rows-only: Datasketches HLL binaries are engine-specific; the
    # estimate-vs-exact error bound is pinned in tests/test_rows_only.py
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB cardinality
    pattern: build ONE HyperLogLog sketch of distinct users per
    event_type (`hll_sketch_agg`), then UNION the stored sketches
    (`hll_union_agg`) for the all-types cardinality WITHOUT rescanning
    the events — the re-aggregation a naive countDistinct can never
    do (distincts don't add).  Emits per-type estimates plus the
    merged 'ALL' row from the same sketch column.

    This is how a petabyte metrics store answers "distinct users last
    quarter" from daily sketch rows instead of a quarter-long scan."""
    ev = load(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct"),
    )
    per_type = sketches.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").cast("bigint").alias("est_distinct"),
        "exact_distinct",
    )
    merged = sketches.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("bigint")
        .alias("est_distinct"),
        F.lit(None).cast("bigint").alias("exact_distinct"),
    ).select(F.lit("ALL").alias("event_type"), "est_distinct", "exact_distinct")
    return per_type.unionAll(merged)


@register(
    "recursive_key_chain",
    survey="SQL-surface extension (WITH RECURSIVE hierarchy traversal, Spark 4)",
    oracle="""
WITH RECURSIVE chain(k, cur, depth) AS (
    SELECT c_custkey, c_custkey, 0
    FROM customer WHERE c_custkey % 50 = 0
    UNION ALL
    SELECT k, cur // 10, depth + 1 FROM chain WHERE cur >= 10
)
SELECT k, CAST(cur AS BIGINT) AS root, CAST(max(depth) AS INT) AS depth
FROM chain
WHERE cur < 10
GROUP BY k, cur
""",
)
def recursive_key_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 SQL surface): walk the synthetic
    digit-hierarchy parent(k) = k div 10 from every 50th customer key
    to its single-digit root, returning (key, root, depth) — the
    org-chart / bill-of-materials traversal shape, expressed as the
    standard recursive CTE in BOTH engines (Spark's iterative
    union-all expansion vs DuckDB's recursive evaluator must
    converge to identical fixpoints)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("rkc_customer")
    return spark.sql(
        """
WITH RECURSIVE chain(k, cur, depth) AS (
    SELECT c_custkey, c_custkey, 0
    FROM rkc_customer WHERE c_custkey % 50 = 0
    UNION ALL
    SELECT k, cur div 10, depth + 1 FROM chain WHERE cur >= 10
)
SELECT k, CAST(cur AS BIGINT) AS root, CAST(max(depth) AS INT) AS depth
FROM chain
WHERE cur < 10
GROUP BY k, cur
"""
    )


@register(
    "lateral_top_orders",
    survey="SQL-surface extension (correlated LATERAL subquery with per-row LIMIT)",
    oracle="""
SELECT c.c_custkey, l.o_orderkey, round(l.o_totalprice, 2) AS price
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) l
WHERE c.c_custkey % 25 = 0
""",
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT —
    the "top-N related rows per outer row" SQL idiom (Spark 4 lateral
    join surface).  Catalyst decorrelates it into the same
    window/top-k plan `topk_per_group` builds by hand, which is why
    the two answer shapes agree; this entry pins the SQL route."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("lto_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("lto_orders")
    return spark.sql(
        """
SELECT c.c_custkey, l.o_orderkey, round(l.o_totalprice, 2) AS price
FROM lto_customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM lto_orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) l
WHERE c.c_custkey % 25 = 0
"""
    )


@register(
    "pareto_frontier_orders",
    survey="W5,O2 (extension: 2-D skyline / Pareto frontier)",
    oracle=r"""
WITH o AS (
    SELECT r.r_name, o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT a.r_name, a.o_orderkey, round(a.o_totalprice, 2) AS total_price,
       strftime(a.o_orderdate, '%Y-%m-%d') AS order_date
FROM o a
WHERE NOT EXISTS (
    SELECT 1 FROM o b
    WHERE b.r_name = a.r_name
      AND b.o_totalprice > a.o_totalprice
      AND b.o_orderdate > a.o_orderdate
)
""",
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region Pareto frontier (2-D skyline) of orders maximizing
    (total price, recency): an order survives iff no same-region order
    is strictly better on BOTH axes — the "best trade-off set" query
    the reference's ranked leaderboards (app/routers/scoring.py:222-241)
    cannot express.

    The oracle states dominance as NOT EXISTS; executing that shape is
    an O(n²) per-region self-join, so the Spark plan uses the sorted
    single-pass equivalence instead: group rows per (region, price) to
    the group's max date, take the running max of that over strictly
    higher price groups (window ordered by price DESC, frame ending at
    -1 excludes the row's own price group), and keep rows whose date
    is not beaten by it.  One shuffle per side keyed on
    (r_name, o_totalprice), a per-region sort, and a broadcast-sized
    frontier join back — no pairwise blow-up at any scale.  Group-by
    price makes the window's order total (no duplicate sort keys), so
    the result is deterministic and tie-pairs (equal on both axes)
    all survive, matching strict-dominance NOT EXISTS semantics
    exactly.  At 100 TB the per-region sort dominates; a local
    per-partition skyline pre-prune (locally dominated ⇒ globally
    dominated) composes in front of this plan unchanged.  Dates stay
    TIMESTAMP_NTZ end to end (ordering is timezone-free); the output
    carries the calendar form.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "o_orderkey", "o_totalprice", "o_orderdate")
    )
    g = base.groupBy("r_name", "o_totalprice").agg(
        F.max("o_orderdate").alias("gmax")
    )
    w = (
        Window.partitionBy("r_name")
        .orderBy(F.desc("o_totalprice"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_prices = (
        g.withColumn("prev_max", F.max("gmax").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("prev_max") <= F.col("gmax")))
        .select("r_name", "o_totalprice", "prev_max")
    )
    return (
        base.join(frontier_prices, ["r_name", "o_totalprice"])
        .filter(
            F.col("prev_max").isNull()
            | (F.col("prev_max") <= F.col("o_orderdate"))
        )
        .select(
            "r_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


def _local_skyline_prune(df: DataFrame) -> DataFrame:
    """Batch-local skyline pre-prune: inside each Arrow batch, drop any
    row strictly dominated by a same-region batchmate.  A locally
    dominated row is globally dominated (its dominator is still
    present), so this narrow mapInPandas stage — NO added shuffle —
    can shrink a 100 TB input to near-frontier size before the global
    grouped-window pass.  Pandas twin of the grouped running-max
    formulation: per (region, price) max date, cummax over strictly
    higher prices, per-row keep check."""
    import pandas as pd

    schema = df.schema

    def prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            keep_parts = []
            for _, g in pdf.groupby("r_name", sort=False):
                gm = (
                    g.groupby("o_totalprice")["o_orderdate"]
                    .max()
                    .sort_index(ascending=False)
                )
                prev_max = gm.cummax().shift(1)
                prev = g["o_totalprice"].map(prev_max)
                keep_parts.append(g[prev.isna() | (prev <= g["o_orderdate"])])
            yield pd.concat(keep_parts)

    return df.mapInPandas(prune, schema)


@register(
    "pareto_frontier_prepruned",
    survey="W5,O2 (extension: skyline with narrow local pre-prune — the 100 TB path)",
    oracle=r"""
WITH o AS (
    SELECT r.r_name, o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT a.r_name, a.o_orderkey, round(a.o_totalprice, 2) AS total_price,
       strftime(a.o_orderdate, '%Y-%m-%d') AS order_date
FROM o a
WHERE NOT EXISTS (
    SELECT 1 FROM o b
    WHERE b.r_name = a.r_name
      AND b.o_totalprice > a.o_totalprice
      AND b.o_orderdate > a.o_orderdate
)
""",
)
def pareto_frontier_prepruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pareto_frontier_orders` with the scale path its docstring
    promises made real: a batch-local skyline prune (mapInPandas,
    narrow — adds zero exchanges, pinned in tests/test_plans.py) runs
    between the dimension joins and the global grouped-window pass.
    Locally dominated ⇒ globally dominated, so the global stage sees
    only near-frontier survivors — at 100 TB that is the difference
    between sorting every region's full order history and sorting a
    few thousand candidates.  Output pinned identical to the unpruned
    twin (same DuckDB NOT EXISTS oracle)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    base = _local_skyline_prune(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "o_orderkey", "o_totalprice", "o_orderdate")
    )
    g = base.groupBy("r_name", "o_totalprice").agg(
        F.max("o_orderdate").alias("gmax")
    )
    w = (
        Window.partitionBy("r_name")
        .orderBy(F.desc("o_totalprice"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_prices = (
        g.withColumn("prev_max", F.max("gmax").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("prev_max") <= F.col("gmax")))
        .select("r_name", "o_totalprice", "prev_max")
    )
    return (
        base.join(frontier_prices, ["r_name", "o_totalprice"])
        .filter(
            F.col("prev_max").isNull()
            | (F.col("prev_max") <= F.col("o_orderdate"))
        )
        .select(
            "r_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


_ALLOC_BUDGET = 10_000  # units to apportion within each region


@register(
    "largest_remainder_allocation",
    survey="W5,A2 (extension: exact Hamilton largest-remainder apportionment)",
    oracle=f"""
WITH rev AS (
    SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS w
    FROM orders GROUP BY o_custkey
),
j AS (
    SELECT r.r_name, rev.o_custkey, rev.w
    FROM rev
    JOIN customer c ON rev.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
),
t AS (
    SELECT r_name, o_custkey, w,
           CAST(sum(w) OVER (PARTITION BY r_name) AS BIGINT) AS tot
    FROM j
),
b AS (
    SELECT r_name, o_custkey, w, tot,
           ({_ALLOC_BUDGET} * w) // tot AS base,
           {_ALLOC_BUDGET} * w - (({_ALLOC_BUDGET} * w) // tot) * tot AS rem
    FROM t
),
rk AS (
    SELECT r_name, o_custkey, base, rem,
           row_number() OVER (PARTITION BY r_name ORDER BY rem DESC, o_custkey) AS rn,
           CAST({_ALLOC_BUDGET} - sum(base) OVER (PARTITION BY r_name) AS BIGINT) AS leftover
    FROM b
)
SELECT r_name, o_custkey,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_units
FROM rk
""",
)
def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional apportionment: split an integer budget of
    10,000 units per region across its customers proportional to order
    revenue via the Hamilton largest-remainder method — floor the
    exact shares, then hand the leftover units to the largest integer
    remainders (tie-broken by custkey, total order on both engines).
    The quota/budget/sampling-allocation primitive a float division
    cannot do: every arithmetic step is int64 (revenue as exact cents,
    `div` for the floor, remainder as B*w - base*tot), so per-region
    allocations sum to EXACTLY the budget — pinned in
    tests/test_cross_query_invariants.py — and cross-engine hash
    parity is trivially bit-stable.

    Scale shape: one groupBy on the customer key, dim joins broadcast,
    then three analytic functions over the SAME region partitioning —
    Catalyst plans a single WindowExec sort per region; no global
    structure anywhere.
    """
    B = _ALLOC_BUDGET
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("w")
    )
    j = (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "o_custkey", "w")
    )
    by_region = Window.partitionBy("r_name")
    t = j.withColumn("tot", F.sum("w").over(by_region))
    b = t.select(
        "r_name",
        "o_custkey",
        F.expr(f"({B} * w) div tot").alias("base"),
        F.expr(f"{B} * w - (({B} * w) div tot) * tot").alias("rem"),
    )
    rk = b.select(
        "r_name",
        "o_custkey",
        "base",
        F.row_number()
        .over(by_region.orderBy(F.desc("rem"), F.asc("o_custkey")))
        .alias("rn"),
        (F.lit(B) - F.sum("base").over(by_region)).alias("leftover"),
    )
    return rk.select(
        "r_name",
        "o_custkey",
        (F.col("base") + (F.col("rn") <= F.col("leftover")).cast("long"))
        .cast("long")
        .alias("alloc_units"),
    )


_DHONDT_SEATS = 100  # seats to award across nations


@register(
    "dhondt_apportionment",
    survey="W5,A2 (extension: D'Hondt highest-averages apportionment)",
    oracle=f"""
WITH votes AS (
    SELECT n.n_nationkey, n.n_name, CAST(count(*) AS BIGINT) AS v
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
),
q AS (
    SELECT n_nationkey, v, i.i AS i, CAST(v AS DOUBLE) / i.i AS quot
    FROM votes, (SELECT unnest(range(1, {_DHONDT_SEATS} + 1)) AS i) i
),
rk AS (
    SELECT n_nationkey,
           row_number() OVER (ORDER BY quot DESC, n_nationkey, i) AS rn
    FROM q
),
won AS (
    SELECT n_nationkey, CAST(count(*) AS BIGINT) AS seats
    FROM rk WHERE rn <= {_DHONDT_SEATS} GROUP BY 1
)
SELECT v.n_name, CAST(coalesce(w.seats, 0) AS BIGINT) AS seats
FROM votes v LEFT JOIN won w USING (n_nationkey)
""",
)
def dhondt_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Hondt highest-averages apportionment: award 100 seats across
    nations proportional to their order counts by repeatedly granting
    the next seat to the party with the highest v/s quotient — the
    divisor-method complement to `largest_remainder_allocation`
    (Hamilton), the other canonical integer-apportionment family
    (quota methods vs divisor methods; D'Hondt avoids the Alabama
    paradox that Hamilton admits).

    The sequential "repeatedly grant" loop is flattened into one
    declarative plan: party p wins seat k iff v_p/k ranks in the
    global top-100 of ALL quotients v/i (i = 1..100) — so seats =
    per-party count of top-ranked quotients.  The double quotient is
    only an ORDER BY key (never output); equal rationals produce
    bit-equal doubles on both engines and the (quot, party, i)
    tie-break is a total order, so the ranking is deterministic.

    Scale shape: the heavy part is the vote count (groupBy on the
    fact); the quotient explode and global rank run over
    #parties × #seats rows — dimension-scale by construction (the
    single-partition ranking window is bounded by that product, like
    the day-carry in max_concurrent_sessions).
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    votes = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    q = votes.select(
        "n_nationkey",
        "v",
        F.explode(F.sequence(F.lit(1), F.lit(_DHONDT_SEATS))).alias("i"),
    ).withColumn("quot", F.col("v").cast("double") / F.col("i"))
    rn = F.row_number().over(
        Window.orderBy(F.desc("quot"), F.asc("n_nationkey"), F.asc("i"))
    )
    won = (
        q.withColumn("rn", rn)
        .filter(F.col("rn") <= _DHONDT_SEATS)
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("seats"))
    )
    return (
        votes.join(won, "n_nationkey", "left")
        .select(
            "n_name",
            F.coalesce(F.col("seats"), F.lit(0)).cast("long").alias("seats"),
        )
    )


@register(
    "gini_concentration",
    survey="A9,A18 (extension: Gini inequality coefficient per region)",
    oracle="""
WITH rev AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS w
    FROM orders GROUP BY 1
),
j AS (
    SELECT r.r_name, rev.o_custkey, rev.w
    FROM rev
    JOIN customer c ON rev.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
),
rk AS (
    SELECT r_name, w,
           row_number() OVER (PARTITION BY r_name ORDER BY w, o_custkey) AS i
    FROM j
),
agg AS (
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(w) AS BIGINT) AS s0,
           CAST(sum(i * w) AS BIGINT) AS s1
    FROM rk GROUP BY 1
)
SELECT r_name,
       n AS n_customers,
       CAST(2 * s1 - (n + 1) * s0 AS BIGINT) AS gini_num,
       CAST(n * s0 AS BIGINT) AS gini_den,
       floor(CAST(2 * s1 - (n + 1) * s0 AS DOUBLE)
             / CAST(n * s0 AS DOUBLE) * 1000000 + 0.5) / 1000000 AS gini
FROM agg
""",
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region Gini coefficient of customer revenue — the
    inequality measure that complements the HHI family (A9): HHI
    answers "how concentrated are the top shares", Gini answers "how
    unequal is the whole distribution".

    Uses the exact rank formulation G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx)
    over ascending-sorted revenue: every term is int64 on exact-cents
    revenue with a (w, custkey) total-order rank, so numerator and
    denominator are bit-exact cross-engine; the display double is ONE
    final IEEE division through round_stable(6).  (At extreme
    populations Σi·x grows ~n²·x̄ — the int64 carrier holds to ~1e6
    customers per region at these magnitudes; beyond that the same
    query runs with a decimal(38,0) carrier, per the
    monthly_revenue_trend pattern.)

    Scale shape: custkey groupBy, broadcast dim joins, ONE
    region-partitioned window sort for the ranks, and a final
    region rollup on the window's own partitioning.
    """
    from ..functions.core import round_stable

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("w")
    )
    j = (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "o_custkey", "w")
    )
    rk = j.withColumn(
        "i",
        F.row_number().over(
            Window.partitionBy("r_name").orderBy(F.asc("w"), F.asc("o_custkey"))
        ),
    )
    agg = rk.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("s0"),
        F.sum(F.col("i") * F.col("w")).alias("s1"),
    )
    num = F.lit(2) * F.col("s1") - (F.col("n") + 1) * F.col("s0")
    den = F.col("n") * F.col("s0")
    return agg.select(
        "r_name",
        F.col("n").alias("n_customers"),
        num.cast("long").alias("gini_num"),
        den.cast("long").alias("gini_den"),
        round_stable(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


@register(
    "leaderboard_rank_delta",
    survey="W4,W5 (extension: per-period leaderboard with rank movement)",
    oracle="""
WITH m AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1, 2
),
rk AS (
    SELECT month, o_custkey, cents,
           CAST(row_number() OVER (
               PARTITION BY month ORDER BY cents DESC, o_custkey
           ) AS BIGINT) AS rnk
    FROM m
),
top AS (SELECT * FROM rk WHERE rnk <= 5)
SELECT t.month, t.o_custkey AS custkey, t.rnk AS rnk,
       t.cents AS revenue_cents,
       CAST(coalesce(p.rnk, 0) AS BIGINT) AS prev_rank
FROM top t
LEFT JOIN top p
  ON p.o_custkey = t.o_custkey
 AND p.month = CAST(t.month - INTERVAL 1 MONTH AS DATE)
""",
)
def leaderboard_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly top-5 revenue leaderboard with rank movement: each
    month's top customers by exact-cents revenue, plus the rank they
    held on the PREVIOUS month's board (0 = new entrant) — the
    time-evolving-ranking report (sales boards, trending content)
    that combines per-period top-k with a period-shifted self-join.

    Calendar work stays in DATE space (`trunc(month)` /
    `add_months`, NTZ-safe per the repo contract); ranking is exact
    integer cents with a custkey tie-break.  Scale shape: the heavy
    (month, custkey) aggregate shuffles once; the top-5 window
    partitions by month; the month-shift join then runs on
    5-rows-per-month — Catalyst broadcasts it regardless of total
    history length.
    """
    o = load(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
            "o_custkey",
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    rk = m.withColumn(
        "rnk",
        F.row_number()
        .over(
            Window.partitionBy("month").orderBy(F.desc("cents"), F.asc("o_custkey"))
        )
        .cast("long"),
    )
    top = rk.filter(F.col("rnk") <= 5)
    prev = top.select(
        F.col("o_custkey").alias("p_custkey"),
        F.add_months(F.col("month"), 1).alias("p_next_month"),
        F.col("rnk").alias("p_rnk"),
    )
    return (
        top.join(
            F.broadcast(prev),
            (F.col("o_custkey") == F.col("p_custkey"))
            & (F.col("month") == F.col("p_next_month")),
            "left",
        )
        .select(
            "month",
            F.col("o_custkey").alias("custkey"),
            "rnk",
            F.col("cents").alias("revenue_cents"),
            F.coalesce(F.col("p_rnk"), F.lit(0)).cast("long").alias("prev_rank"),
        )
    )


@register(
    "rfm_segmentation",
    survey="W5,A1 (extension: RFM quintile segmentation)",
    oracle="""
WITH maxd AS (
    SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders
),
base AS (
    SELECT o_custkey,
           CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
                         (SELECT dmax FROM maxd)) AS BIGINT) AS recency_days,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
    FROM orders GROUP BY o_custkey
),
seg AS (
    SELECT b.*, c.c_mktsegment AS segment
    FROM base b JOIN customer c ON b.o_custkey = c.c_custkey
),
scored AS (
    SELECT segment, o_custkey, recency_days, n_orders, monetary_cents,
           CAST(ntile(5) OVER (PARTITION BY segment
               ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (PARTITION BY segment
               ORDER BY n_orders, o_custkey) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (PARTITION BY segment
               ORDER BY monetary_cents, o_custkey) AS BIGINT) AS m_score
    FROM seg
)
SELECT segment, o_custkey AS custkey, recency_days, n_orders, monetary_cents,
       r_score, f_score, m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
FROM scored
""",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quintile scoring — the standard
    customer-value segmentation: days since last order (anchored to
    the data's own max date, no wall clock), order count, and exact-
    cents spend, each quintiled WITHIN the customer's market segment
    (peer-relative scores keep every ntile window partitioned — the
    scale-shape reason, and the analytically better formulation).
    All ORDER BYs carry a custkey tie-break so ntile assignment is a
    total order on both engines (the established rank_family_metrics
    ntile contract).  Calendar math stays in DATE space.

    Scale shape: one fact groupBy, a broadcast-scalar max-date
    attach, three ntile windows sharing ONE segment partitioning.
    Quintile boundaries within a segment sort that segment's
    customers; beyond memory that becomes rank-select boundary
    computation + broadcast bucketing (quantile_profile pattern) with
    identical output.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    dmax = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("dmax"))
    seg = (
        base.crossJoin(F.broadcast(dmax))
        .join(c, base.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
            F.datediff(F.col("dmax"), F.col("last_d")).cast("long").alias(
                "recency_days"
            ),
            "n_orders",
            "monetary_cents",
        )
    )
    by_seg = Window.partitionBy("segment")
    r_s = F.ntile(5).over(
        by_seg.orderBy(F.desc("recency_days"), F.asc("o_custkey"))
    )
    f_s = F.ntile(5).over(by_seg.orderBy(F.asc("n_orders"), F.asc("o_custkey")))
    m_s = F.ntile(5).over(
        by_seg.orderBy(F.asc("monetary_cents"), F.asc("o_custkey"))
    )
    scored = seg.select(
        "segment",
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "n_orders",
        "monetary_cents",
        r_s.cast("long").alias("r_score"),
        f_s.cast("long").alias("f_score"),
        m_s.cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("long"),
    )


@register(
    "mom_revenue_growth",
    survey="F6,W5 (extension: month-over-month growth report)",
    oracle="""
WITH m AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
lg AS (
    SELECT month, cents,
           lag(cents) OVER (ORDER BY month) AS prev_cents
    FROM m
)
SELECT month,
       cents AS revenue_cents,
       CAST(CASE WHEN prev_cents IS NULL THEN 0 ELSE 1 END AS BIGINT) AS has_prev,
       CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN 0.0
            ELSE floor((CAST(cents AS DOUBLE) - CAST(prev_cents AS DOUBLE))
                       / CAST(prev_cents AS DOUBLE) * 1000000 + 0.5) / 1000000
       END AS mom_growth
FROM lg
""",
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the first page of every
    revenue dashboard: calendar-month exact-cents totals (surfaced as
    int64 cents — the one carrier both engines materialize
    identically; Spark DECIMAL(26,6) vs DuckDB's decimal/int DOUBLE
    promotion hash-diverged in the r7 driver even though every value
    was bit-identical after normalization) with the growth ratio vs
    the previous month as one guarded round_stable division over
    exact int64 cents.

    Scale shape: the fact aggregate is the work; the lag runs on the
    O(#months) month grain — the bounded single-partition window this
    repo's day-carry precedent documents (~1200 rows per century).
    """
    from ..functions.core import round_stable

    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    lg = m.withColumn(
        "prev_cents", F.lag("cents").over(Window.orderBy("month"))
    )
    growth = F.when(
        F.col("prev_cents").isNull() | (F.col("prev_cents") == 0), F.lit(0.0)
    ).otherwise(
        round_stable(
            (F.col("cents").cast("double") - F.col("prev_cents").cast("double"))
            / F.col("prev_cents").cast("double"),
            6,
        )
    )
    return lg.select(
        "month",
        F.col("cents").alias("revenue_cents"),
        F.col("prev_cents").isNotNull().cast("long").alias("has_prev"),
        growth.alias("mom_growth"),
    )


@register(
    "hierarchy_share_report",
    survey="A2,W5 (extension: multi-level share-of-parent rollup)",
    oracle="""
WITH rev AS (
    SELECT r.r_name, n.n_name,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
),
lv AS (
    SELECT r_name, n_name, cents,
           CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
           CAST(sum(cents) OVER () AS BIGINT) AS total_cents
    FROM rev
)
SELECT r_name, n_name, cents AS nation_cents, region_cents,
       floor(CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS share_of_region,
       floor(CAST(region_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS region_share_of_total
FROM lv
""",
)
def hierarchy_share_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent at every level of the region → nation revenue
    hierarchy: each nation's share of its region and each region's
    share of the corporate total, on one row per nation — the
    drill-down report pattern that grouping-sets rollups (which emit
    separate subtotal ROWS) don't give you.

    Exact int64 cents at every grain; the two shares are guarded
    round_stable divisions.  Scale shape: one fact aggregate to the
    (region, nation) grain — at most a few hundred rows — then two
    window sums over that dimension-sized grain (the empty-frame
    total window is bounded by the grain, same class as the
    month-lag precedent).
    """
    from ..functions.core import round_stable

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    lv = rev.withColumn(
        "region_cents", F.sum("cents").over(Window.partitionBy("r_name"))
    ).withColumn(
        "total_cents",
        F.sum("cents").over(
            Window.partitionBy()
        ),
    )
    return lv.select(
        "r_name",
        "n_name",
        F.col("cents").alias("nation_cents"),
        "region_cents",
        round_stable(
            F.col("cents").cast("double") / F.col("region_cents").cast("double"),
            6,
        ).alias("share_of_region"),
        round_stable(
            F.col("region_cents").cast("double")
            / F.col("total_cents").cast("double"),
            6,
        ).alias("region_share_of_total"),
    )


@register(
    "abc_classification",
    survey="W5,A9 (extension: Pareto ABC revenue classification)",
    oracle="""
WITH rev AS (
    SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM lineitem GROUP BY 1
),
rk AS (
    SELECT l_partkey, cents,
           CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(sum(cents) OVER () AS BIGINT) AS total
    FROM rev
)
SELECT l_partkey AS partkey, cents AS revenue_cents,
       CASE WHEN cum * 100 <= total * 80 THEN 'A'
            WHEN cum * 100 <= total * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM rk
""",
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto ABC classification of parts by revenue: rank by
    exact-cents revenue, then class A = parts inside the top 80% of
    cumulative revenue, B = next 15%, C = the tail — the inventory-
    prioritization report whose class boundaries are INTEGER
    cross-multiplied comparisons (cum·100 ≤ total·80), so no float
    share ever exists and cross-engine parity is trivial.

    Scale shape: part-grain aggregate (the work), then one global
    revenue-ordered running sum — the same RangePartitioning sort
    class as any global ranking report; ties broken by partkey for a
    total order.  (int64 cross-products hold to ~9e16 total cents;
    decimal(38,0) beyond.)
    """
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    run = (
        Window.orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = rev.withColumn("cum", F.sum("cents").over(run)).withColumn(
        "total", F.sum("cents").over(Window.partitionBy())
    )
    cls = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("total") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return rk.select(
        F.col("l_partkey").alias("partkey"),
        F.col("cents").alias("revenue_cents"),
        cls.alias("abc_class"),
    )


@register(
    "discount_quantity_corr",
    survey="A18 (extension: per-brand discount-quantity correlation)",
    oracle="""
WITH q AS (
    SELECT p.p_brand,
           CAST(round(l.l_discount * 100) AS BIGINT) AS d100,
           CAST(round(l.l_quantity) AS BIGINT) AS qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
s AS (
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d100) AS BIGINT) AS sx, CAST(sum(qty) AS BIGINT) AS sy,
           CAST(sum(d100 * d100) AS BIGINT) AS sxx,
           CAST(sum(qty * qty) AS BIGINT) AS syy,
           CAST(sum(d100 * qty) AS BIGINT) AS sxy
    FROM q GROUP BY 1
)
SELECT p_brand, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS r_num,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS corr_discount_qty
FROM s
""",
)
def discount_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pearson correlation between discount depth and
    quantity — "do discounts move volume for this brand?", the
    pricing-analytics question answered with the exact-moment
    contract: discounts quantized to integer basis points, quantities
    integer, all five moments exact int64, correlation one guarded
    fixed-order double (the autocorr/xcorr numeric pattern applied to
    a fact⋈dim grain).  Broadcast part join, one map-side moments
    groupBy."""
    from ..functions.core import exact_pearson

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.round(F.col("l_discount") * 100).cast("long").alias("d100"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    return exact_pearson(q, "p_brand", "d100", "qty", "n", "corr_discount_qty")


@register(
    "supplier_return_wilson",
    survey="A10,W4 (extension: Wilson lower-bound proportion ranking)",
    oracle="""
WITH s AS (
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS k
    FROM lineitem GROUP BY 1
),
w AS (
    SELECT l_suppkey, n, k,
           floor((((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                   + 1.9208 / CAST(n AS DOUBLE)
                   - 1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                  + 0.9604 / CAST(n AS DOUBLE))
                                 / CAST(n AS DOUBLE)))
                  / (1.0 + 3.8416 / CAST(n AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS wilson_lb
    FROM s
)
SELECT l_suppkey AS suppkey, n, k AS n_returned, wilson_lb,
       CAST(row_number() OVER (ORDER BY wilson_lb DESC, l_suppkey) AS BIGINT)
           AS risk_rank
FROM w
""",
)
def supplier_return_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers ranked by the Wilson-score LOWER bound of their
    return rate — the statistically honest way to rank proportions
    (a raw k/n ranks a 1-of-1 returner above a 40-of-100 one; the
    Wilson bound shrinks small samples toward zero).  Exact (k, n)
    integer carriers; the bound is ONE fixed-order double expression
    with the z=1.96 constants pre-squared as literals (1.9208 =
    z²/2, 0.9604 = z²/4·... spelled identically in both engines —
    sqrt/div are correctly rounded, so the doubles match bit-for-bit
    before the fixed-point floor).  One map-side groupBy + the
    global ranking sort."""
    from ..functions.core import round_stable

    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    lb = round_stable(
        (
            p
            + F.lit(1.9208) / nd
            - F.lit(1.96)
            * F.sqrt((p * (F.lit(1.0) - p) + F.lit(0.9604) / nd) / nd)
        )
        / (F.lit(1.0) + F.lit(3.8416) / nd),
        6,
    )
    w = s.withColumn("wilson_lb", lb)
    return w.select(
        F.col("l_suppkey").alias("suppkey"),
        "n",
        F.col("k").alias("n_returned"),
        "wilson_lb",
        F.row_number()
        .over(Window.orderBy(F.desc("wilson_lb"), F.asc("l_suppkey")))
        .cast("long")
        .alias("risk_rank"),
    )


_LAG_QUANTILES = (25, 50, 90, 99)  # percent


@register(
    "fulfillment_lag_quantiles",
    survey="W3,J2 (extension: ship-lag quantiles per order priority)",
    oracle=f"""
WITH lag_days AS (
    SELECT o.o_orderpriority,
           CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_d,
           l.l_orderkey, l.l_linenumber
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ranked AS (
    SELECT o_orderpriority, lag_d,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY lag_d, l_orderkey, l_linenumber) AS rn,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM lag_days
),
qs AS (
    SELECT p FROM (VALUES {", ".join(f"({p})" for p in _LAG_QUANTILES)}) t(p)
)
SELECT r.o_orderpriority AS priority, q.p,
       CAST(min(r.lag_d) AS BIGINT) AS lag_days
FROM ranked r JOIN qs q ON r.rn = CAST(ceil(q.p * r.n / 100.0) AS BIGINT)
GROUP BY 1, 2
""",
)
def fulfillment_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag quantiles (p25/p50/p90/p99 days) per order
    priority — the supply-chain SLA report ("does URGENT actually
    ship faster, and what does the tail look like?"), computed with
    the exact rank-select contract (value at row ceil(p·n/100) of a
    total order, no interpolation drift) over DATE-space day lags.

    Scale shape: the fact⋈fact join shuffles on orderkey once, the
    rank runs per priority partition (5 groups), and the quantile
    list is a 4-row broadcast.  `quantile_profile` documents the
    pattern; this entry applies it to a joined two-fact grain.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lag_days = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lag_d"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "lag_d", "l_orderkey", "l_linenumber"
    )
    ranked = lag_days.select(
        "o_orderpriority",
        "lag_d",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    qs = spark.createDataFrame([(p,) for p in _LAG_QUANTILES], "p int")
    hit = ranked.join(
        F.broadcast(qs),
        F.col("rn") == F.ceil(F.col("p") * F.col("n") / 100.0).cast("bigint"),
    )
    return hit.groupBy(
        F.col("o_orderpriority").alias("priority"), "p"
    ).agg(F.min("lag_d").cast("bigint").alias("lag_days"))


_TE_SMOOTH_M = 20  # additive-smoothing pseudo-count


@register(
    "target_encoding_smoothed",
    survey="A3,F13 (extension: additive-smoothed target encoding)",
    oracle=f"""
WITH base AS (
    SELECT c.c_mktsegment AS segment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS s
    FROM base GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS na, CAST(sum(s) AS BIGINT) AS sa FROM g
)
SELECT g.segment, g.n, g.s AS sum_cents,
       CAST(g.s * tot.na + {_TE_SMOOTH_M} * tot.sa AS BIGINT) AS enc_num,
       CAST(tot.na * (g.n + {_TE_SMOOTH_M}) AS BIGINT) AS enc_den,
       floor(CAST(g.s * tot.na + {_TE_SMOOTH_M} * tot.sa AS DOUBLE)
             / CAST(tot.na * (g.n + {_TE_SMOOTH_M}) AS DOUBLE)
             * 100 + 0.5) / 100 AS encoded_value
FROM g, tot
""",
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive-smoothed target encoding of market segment by order
    value: enc = (Σ_cat + m·prior)/(n_cat + m) with the global mean
    as prior — the leakage-resistant categorical feature encoder
    (smoothing shrinks rare categories toward the prior instead of
    memorizing them).  The blend is carried as ONE exact integer
    fraction — enc = (Σ_s·N + m·Σ_all)/(N·(n_s + m)) after clearing
    the prior's denominator — so num/den are exact int64 (holds to
    ~3e9 total cents·rows; decimal(38,0) beyond) and the display
    value is a single round_stable division.  One fact groupBy + a
    broadcast 1-row total."""
    from ..functions.core import round_stable

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = base.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    tot = g.agg(F.sum("n").alias("na"), F.sum("s").alias("sa"))
    j = g.crossJoin(F.broadcast(tot))
    num = (F.col("s") * F.col("na") + _TE_SMOOTH_M * F.col("sa")).cast("long")
    den = (F.col("na") * (F.col("n") + _TE_SMOOTH_M)).cast("long")
    return j.select(
        "segment",
        "n",
        F.col("s").alias("sum_cents"),
        num.alias("enc_num"),
        den.alias("enc_den"),
        round_stable(num.cast("double") / den.cast("double"), 2).alias(
            "encoded_value"
        ),
    )


_NEYMAN_BUDGET = 1_000  # total sample size across strata


@register(
    "neyman_stratified_sample",
    survey="O5,A10 (extension: Neyman-allocated deterministic stratified sample)",
    oracle=f"""
WITH base AS (
    SELECT c.c_mktsegment AS stratum, o.o_orderkey,
           CAST(round(o.o_totalprice) AS BIGINT) AS dollars
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
st AS (
    SELECT stratum,
           CAST(count(*) AS BIGINT) AS nh,
           CAST(sum(dollars) AS BIGINT) AS s1,
           CAST(sum(dollars * dollars) AS BIGINT) AS s2
    FROM base GROUP BY 1
),
wts AS (
    SELECT stratum, nh,
           CAST(floor(CAST(nh AS DOUBLE)
                      * sqrt((CAST(nh AS DOUBLE) * CAST(s2 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                             / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE)))
                      * 100.0) AS BIGINT) AS w
    FROM st WHERE nh >= 2
),
tw AS (
    SELECT stratum, nh, w, CAST(sum(w) OVER () AS BIGINT) AS wtot FROM wts
),
alloc AS (
    SELECT stratum, nh,
           ({_NEYMAN_BUDGET} * w) // wtot AS base_n,
           {_NEYMAN_BUDGET} * w - (({_NEYMAN_BUDGET} * w) // wtot) * wtot AS rem,
           CAST({_NEYMAN_BUDGET} - sum(({_NEYMAN_BUDGET} * w) // wtot) OVER ()
                AS BIGINT) AS leftover
    FROM tw
),
final_alloc AS (
    SELECT stratum, nh,
           CAST(base_n + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
                                   <= leftover THEN 1 ELSE 0 END AS BIGINT) AS n_take
    FROM alloc
),
rk AS (
    SELECT b.stratum, b.o_orderkey, f.n_take,
           row_number() OVER (
               PARTITION BY b.stratum
               ORDER BY md5('neyman|' || CAST(b.o_orderkey AS VARCHAR)), b.o_orderkey
           ) AS rn
    FROM base b JOIN final_alloc f ON b.stratum = f.stratum
)
SELECT stratum, o_orderkey, CAST(n_take AS BIGINT) AS stratum_quota
FROM rk WHERE rn <= n_take
""",
)
def neyman_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample with NEYMAN allocation: the 1,000-order
    budget is split across market segments proportional to
    N_h·σ_h (variance-heavy strata get more samples — the
    minimum-variance design survey statistics prescribes, vs the
    proportional split `stratified_sample` uses), the integer split
    by Hamilton largest-remainder, and membership by deterministic
    salted-md5 order — fully replayable, no rand().

    Numerics: per-stratum variance is the exact integer fraction
    (n·Σx² − (Σx)²)/(n(n−1)) over WHOLE DOLLARS — the squared-moment
    int64 budget rule: dollar² sums hold to ~1e6 rows/stratum at
    these magnitudes where cents² would overflow at sf0.1 (caught by
    the pre-commit sf0.1 run), decimal(38,0) beyond; the weight
    N_h·σ_h is ONE fixed-order sqrt quantized to an int64 at 1e-2
    resolution before the all-integer Hamilton split, so allocation
    is bit-stable cross-engine.

    Scale shape: one fact aggregate for moments, a 5-row allocation
    frame, then a per-stratum top-n_take window over the salted
    hash — the same two-level sample-order contract as
    weighted_sample_per_source.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("stratum"),
        "o_orderkey",
        F.round(F.col("o_totalprice")).cast("long").alias("dollars"),
    )
    st = base.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("dollars").alias("s1"),
        F.sum(F.col("dollars") * F.col("dollars")).alias("s2"),
    ).filter(F.col("nh") >= 2)
    nhd = F.col("nh").cast("double")
    var = (
        nhd * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (nhd * (F.col("nh") - 1).cast("double"))
    wts = st.select(
        "stratum",
        "nh",
        F.floor(nhd * F.sqrt(var) * F.lit(100.0)).cast("long").alias("w"),
    )
    tw = wts.withColumn("wtot", F.sum("w").over(Window.partitionBy()))
    B = _NEYMAN_BUDGET
    alloc = tw.select(
        "stratum",
        "nh",
        F.expr(f"({B} * w) div wtot").alias("base_n"),
        F.expr(f"{B} * w - (({B} * w) div wtot) * wtot").alias("rem"),
    ).withColumn(
        "leftover",
        (F.lit(B) - F.sum("base_n").over(Window.partitionBy())).cast("long"),
    )
    final_alloc = alloc.select(
        "stratum",
        "nh",
        (
            F.col("base_n")
            + (
                F.row_number().over(
                    Window.orderBy(F.desc("rem"), F.asc("stratum"))
                )
                <= F.col("leftover")
            ).cast("long")
        )
        .cast("long")
        .alias("n_take"),
    )
    rk = base.join(F.broadcast(final_alloc), "stratum").select(
        "stratum",
        "o_orderkey",
        "n_take",
        F.row_number()
        .over(
            Window.partitionBy("stratum").orderBy(
                F.md5(
                    F.concat(
                        F.lit("neyman|"), F.col("o_orderkey").cast("string")
                    )
                ),
                F.asc("o_orderkey"),
            )
        )
        .alias("rn"),
    )
    return rk.filter(F.col("rn") <= F.col("n_take")).select(
        "stratum",
        "o_orderkey",
        F.col("n_take").cast("long").alias("stratum_quota"),
    )


@register(
    "price_index_monthly",
    survey="A2,F6 (extension: matched-basket monthly price index)",
    oracle="""
WITH m AS (
    SELECT l_partkey,
           CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem GROUP BY 1, 2
),
p AS (
    SELECT l_partkey, month, (cents * 100) // qty AS unit_p
    FROM m WHERE qty > 0
),
base AS (
    SELECT l_partkey, unit_p AS base_p
    FROM p WHERE month = (SELECT min(month) FROM p)
),
j AS (
    SELECT p.month, p.unit_p, b.base_p
    FROM p JOIN base b ON p.l_partkey = b.l_partkey
),
agg AS (
    SELECT month,
           CAST(count(*) AS BIGINT) AS basket_parts,
           CAST(sum(unit_p) AS BIGINT) AS cur_sum,
           CAST(sum(base_p) AS BIGINT) AS base_sum
    FROM j GROUP BY 1
)
SELECT month, basket_parts, cur_sum, base_sum,
       floor(CAST(cur_sum AS DOUBLE) / CAST(base_sum AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS price_index
FROM agg
""",
)
def price_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-basket monthly price index: each month's average unit
    prices (exact integer-division quantization ⌊100·cents/qty⌋, so
    no rational sums exist) compared against the FIRST month for the
    parts traded in both — the inflation/price-drift monitor an
    analytics platform runs over any priced fact stream.  Basket
    membership is matched per month (parts present in both periods),
    with the basket size reported so index jumps from composition
    changes are visible.

    Scale shape: one (part, month) aggregate, a broadcast base-month
    join keyed on part, and a month rollup — exact int64 price sums
    with ONE guarded round_stable division per month.
    """
    from ..functions.core import round_stable

    li = load(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_partkey",
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
    )
    p = m.filter(F.col("qty") > 0).select(
        "l_partkey", "month", F.expr("(cents * 100) div qty").alias("unit_p")
    )
    base_month = p.agg(F.min("month").alias("m0"))
    base = (
        p.crossJoin(F.broadcast(base_month))
        .filter(F.col("month") == F.col("m0"))
        .select("l_partkey", F.col("unit_p").alias("base_p"))
    )
    j = p.join(base, "l_partkey")
    agg = j.groupBy("month").agg(
        F.count(F.lit(1)).alias("basket_parts"),
        F.sum("unit_p").alias("cur_sum"),
        F.sum("base_p").alias("base_sum"),
    )
    return agg.select(
        "month",
        "basket_parts",
        "cur_sum",
        "base_sum",
        round_stable(
            F.col("cur_sum").cast("double") / F.col("base_sum").cast("double"),
            6,
        ).alias("price_index"),
    )


@register(
    "eb_shrunk_return_rates",
    survey="A3,A10 (extension: empirical-Bayes beta-binomial shrinkage)",
    oracle="""
WITH s AS (
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS k
    FROM lineitem GROUP BY 1
),
r AS (
    SELECT l_suppkey, n, k,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate
    FROM s
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           list_reduce(list(rate ORDER BY l_suppkey), (a, b) -> a + b) AS sr,
           list_reduce(list(rate * rate ORDER BY l_suppkey), (a, b) -> a + b)
               AS srr
    FROM r
),
prior AS (
    SELECT m, sr / m AS mu,
           srr / m - (sr / m) * (sr / m) AS v
    FROM mom
),
ab AS (
    SELECT CASE WHEN v > 0 AND mu * (1.0 - mu) / v - 1.0 > 0
                THEN floor(mu * (mu * (1.0 - mu) / v - 1.0) * 1000000 + 0.5)
                     / 1000000
                ELSE 1.0 END AS alpha,
           CASE WHEN v > 0 AND mu * (1.0 - mu) / v - 1.0 > 0
                THEN floor((1.0 - mu) * (mu * (1.0 - mu) / v - 1.0)
                           * 1000000 + 0.5) / 1000000
                ELSE 1.0 END AS beta
    FROM prior
)
SELECT r.l_suppkey AS suppkey, r.n, r.k,
       ab.alpha, ab.beta,
       floor((CAST(r.k AS DOUBLE) + ab.alpha)
             / (CAST(r.n AS DOUBLE) + ab.alpha + ab.beta)
             * 1000000 + 0.5) / 1000000 AS shrunk_rate
FROM r, ab
""",
)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-supplier return rates: a
    beta-binomial prior is fit by method of moments on the observed
    rate distribution (the classic batting-average estimator), and
    each supplier's rate shrinks toward it proportionally to its
    evidence — the third leg of the small-sample-honesty family
    (Wilson bounds rank pessimistically, smoothing-encoders blend a
    fixed pseudo-count; EB LEARNS the pseudo-counts from the data).

    Numerics: per-supplier rates are single exact-int divisions; the
    prior moments Σr and Σr² fold in supplier-key order on BOTH
    engines (sorted-collect + add-reduce over the bounded
    supplier-dimension grain); α and β pass through round_stable(6)
    BEFORE use (the CUPED θ contract) so every shrunk rate is one
    bit-identical fixed-order double.  Degenerate prior (zero
    variance) falls back to Beta(1,1).
    """
    from ..functions.core import round_stable

    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("k"),
    )
    r = s.withColumn(
        "rate", F.col("k").cast("double") / F.col("n").cast("double")
    )
    folded = r.groupBy().agg(
        F.count(F.lit(1)).alias("m"),
        F.array_sort(F.collect_list(F.struct("l_suppkey", "rate"))).alias("arr"),
    )
    rates = F.transform(F.col("arr"), lambda x: x["rate"])
    sq = F.transform(F.col("arr"), lambda x: x["rate"] * x["rate"])

    def fold_sum(a):
        return F.aggregate(
            F.slice(a, 2, F.size(a) - 1), F.element_at(a, 1), lambda x, y: x + y
        )

    mom = folded.select(
        "m", fold_sum(rates).alias("sr"), fold_sum(sq).alias("srr")
    )
    mu = F.col("sr") / F.col("m")
    v = F.col("srr") / F.col("m") - mu * mu
    common = mu * (F.lit(1.0) - mu) / v - F.lit(1.0)
    ok = (v > 0) & (common > 0)
    ab = mom.select(
        F.when(ok, round_stable(mu * common, 6)).otherwise(F.lit(1.0)).alias(
            "alpha"
        ),
        F.when(ok, round_stable((F.lit(1.0) - mu) * common, 6))
        .otherwise(F.lit(1.0))
        .alias("beta"),
    )
    j = r.crossJoin(F.broadcast(ab))
    shrunk = round_stable(
        (F.col("k").cast("double") + F.col("alpha"))
        / (F.col("n").cast("double") + F.col("alpha") + F.col("beta")),
        6,
    )
    return j.select(
        F.col("l_suppkey").alias("suppkey"),
        "n",
        "k",
        "alpha",
        "beta",
        shrunk.alias("shrunk_rate"),
    )


_HIER_BUDGET = 100_000  # units apportioned at the top level


@register(
    "hierarchical_budget_allocation",
    survey="W5,A2 (extension: two-level nested Hamilton apportionment)",
    oracle=f"""
WITH rev AS (
    SELECT r.r_name, n.n_name,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
),
reg AS (
    SELECT r_name, CAST(sum(cents) AS BIGINT) AS w,
           CAST(sum(sum(cents)) OVER () AS BIGINT) AS tot
    FROM rev GROUP BY r_name
),
reg_alloc AS (
    SELECT r_name,
           CAST(({_HIER_BUDGET} * w) // tot
                + CASE WHEN row_number() OVER (
                           ORDER BY {_HIER_BUDGET} * w
                                    - (({_HIER_BUDGET} * w) // tot) * tot DESC,
                                    r_name)
                       <= {_HIER_BUDGET}
                          - sum(({_HIER_BUDGET} * w) // tot) OVER ()
                       THEN 1 ELSE 0 END AS BIGINT) AS region_units
    FROM reg
),
nat AS (
    SELECT rev.r_name, rev.n_name, rev.cents,
           CAST(sum(rev.cents) OVER (PARTITION BY rev.r_name) AS BIGINT)
               AS rtot,
           ra.region_units
    FROM rev JOIN reg_alloc ra ON rev.r_name = ra.r_name
)
SELECT r_name, n_name, region_units,
       CAST((region_units * cents) // rtot
            + CASE WHEN row_number() OVER (
                       PARTITION BY r_name
                       ORDER BY region_units * cents
                                - ((region_units * cents) // rtot) * rtot DESC,
                                n_name)
                   <= region_units
                      - sum((region_units * cents) // rtot)
                            OVER (PARTITION BY r_name)
                   THEN 1 ELSE 0 END AS BIGINT) AS nation_units
FROM nat
""",
)
def hierarchical_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL nested apportionment: a 100,000-unit budget is
    Hamilton-split across regions by exact-cents revenue, then each
    region's integer award is Hamilton-split again across its
    nations — the planning-system allocation where conservation must
    hold at EVERY level simultaneously (Σ nations == region's units,
    Σ regions == budget; both pinned).  Single-level rounding then
    re-normalizing floats would violate one level or the other;
    nesting the integer method is the correct construction.

    All arithmetic is int64 (floor via div, remainders exact,
    total-order tie-breaks at both levels).  Scale shape: one fact
    aggregate to the (region, nation) grain, then two window layers
    over dimension-sized frames.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    B = _HIER_BUDGET
    reg = rev.groupBy("r_name").agg(F.sum("cents").alias("w")).withColumn(
        "tot", F.sum("w").over(Window.partitionBy())
    )
    base = F.expr(f"({B} * w) div tot")
    rem = F.expr(f"{B} * w - (({B} * w) div tot) * tot")
    reg_alloc = reg.select(
        "r_name",
        (
            base
            + (
                F.row_number().over(Window.orderBy(F.desc(rem), F.asc("r_name")))
                <= F.lit(B) - F.sum(base).over(Window.partitionBy())
            ).cast("long")
        )
        .cast("long")
        .alias("region_units"),
    )
    nat = rev.join(F.broadcast(reg_alloc), "r_name").withColumn(
        "rtot", F.sum("cents").over(Window.partitionBy("r_name"))
    )
    nbase = F.expr("(region_units * cents) div rtot")
    nrem = F.expr(
        "region_units * cents - ((region_units * cents) div rtot) * rtot"
    )
    by_region = Window.partitionBy("r_name")
    return nat.select(
        "r_name",
        "n_name",
        "region_units",
        (
            nbase
            + (
                F.row_number().over(
                    by_region.orderBy(F.desc(nrem), F.asc("n_name"))
                )
                <= F.col("region_units") - F.sum(nbase).over(by_region)
            ).cast("long")
        )
        .cast("long")
        .alias("nation_units"),
    )


@register(
    "mom_waterfall_by_segment",
    survey="A2,W5 (extension: MoM revenue-change waterfall decomposition)",
    oracle="""
WITH m AS (
    SELECT c.c_mktsegment AS segment,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
lg AS (
    SELECT segment, month, cents,
           lag(cents) OVER (PARTITION BY segment ORDER BY month) AS prev_cents
    FROM m
),
d AS (
    SELECT segment, month,
           CAST(cents - prev_cents AS BIGINT) AS delta_cents
    FROM lg WHERE prev_cents IS NOT NULL
)
SELECT segment, month, delta_cents,
       CAST(sum(delta_cents) OVER (PARTITION BY month) AS BIGINT)
           AS month_total_delta
FROM d
""",
)
def mom_waterfall_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue-change waterfall: each segment's
    exact-cents contribution to the month's total change, with the
    additivity identity (segment deltas sum to the month delta)
    carried as a column so the decomposition is self-auditing — the
    bridge chart every revenue review opens with, and a pure integer
    identity here (pinned in tests).  Segments absent from a month
    pair drop out of that month's bridge (matched-pair semantics,
    like the price index's matched basket).

    Scale shape: one (segment, month) aggregate, a segment-
    partitioned lag, a month-partitioned sum — all on the
    dimension×calendar grain.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    lg = m.withColumn(
        "prev_cents",
        F.lag("cents").over(Window.partitionBy("segment").orderBy("month")),
    ).filter(F.col("prev_cents").isNotNull())
    d = lg.select(
        "segment",
        "month",
        (F.col("cents") - F.col("prev_cents")).cast("long").alias("delta_cents"),
    )
    return d.withColumn(
        "month_total_delta",
        F.sum("delta_cents").over(Window.partitionBy("month")).cast("long"),
    )


@register(
    "price_volume_mix_monthly",
    survey="A2,W5 (extension: price/volume effect decomposition)",
    oracle="""
WITH m AS (
    SELECT l_partkey,
           CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem GROUP BY 1, 2
),
p AS (
    SELECT l_partkey, month, qty, (cents * 100) // qty AS unit_p
    FROM m WHERE qty > 0
),
lg AS (
    SELECT l_partkey, month, qty, unit_p,
           lag(qty) OVER w AS q0, lag(unit_p) OVER w AS p0,
           lag(month) OVER w AS prev_month
    FROM p
    WINDOW w AS (PARTITION BY l_partkey ORDER BY month)
),
eff AS (
    SELECT month,
           CAST((qty - q0) * p0 AS BIGINT) AS volume_eff,
           CAST(qty * (unit_p - p0) AS BIGINT) AS price_eff
    FROM lg
    WHERE q0 IS NOT NULL
      AND prev_month = CAST(month - INTERVAL 1 MONTH AS DATE)
)
SELECT month,
       CAST(count(*) AS BIGINT) AS matched_parts,
       CAST(sum(volume_eff) AS BIGINT) AS volume_effect,
       CAST(sum(price_eff) AS BIGINT) AS price_effect,
       CAST(sum(volume_eff) + sum(price_eff) AS BIGINT) AS total_change
FROM eff GROUP BY month
""",
)
def price_volume_mix_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume decomposition of month-over-month change — the
    finance bridge "how much of the revenue move was price, how much
    was volume": per part matched with its immediately-previous
    month, ΔR = (q₁−q₀)·p₀ + q₁·(p₁−p₀) on integer-quantized unit
    prices, so volume_effect + price_effect equals the total change
    EXACTLY by algebraic identity on the quantized terms (carried as
    a self-auditing column; only calendar-adjacent part-months pair,
    the matched-pair rule shared with the price index and the
    waterfall).

    Scale shape: one (part, month) aggregate, one part-partitioned
    lag, one month rollup — all integer arithmetic.
    """
    li = load(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_partkey",
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
    )
    p = m.filter(F.col("qty") > 0).select(
        "l_partkey", "month", "qty", F.expr("(cents * 100) div qty").alias("unit_p")
    )
    w = Window.partitionBy("l_partkey").orderBy("month")
    lg = (
        p.withColumn("q0", F.lag("qty").over(w))
        .withColumn("p0", F.lag("unit_p").over(w))
        .withColumn("prev_month", F.lag("month").over(w))
        .filter(
            F.col("q0").isNotNull()
            & (F.col("prev_month") == F.add_months(F.col("month"), -1))
        )
    )
    eff = lg.select(
        "month",
        ((F.col("qty") - F.col("q0")) * F.col("p0")).cast("long").alias(
            "volume_eff"
        ),
        (F.col("qty") * (F.col("unit_p") - F.col("p0"))).cast("long").alias(
            "price_eff"
        ),
    )
    return eff.groupBy("month").agg(
        F.count(F.lit(1)).alias("matched_parts"),
        F.sum("volume_eff").alias("volume_effect"),
        F.sum("price_eff").alias("price_effect"),
        (F.sum("volume_eff") + F.sum("price_eff")).cast("long").alias(
            "total_change"
        ),
    )


@register(
    "sql_udf_banding",
    survey="F12,§2.11 (extension: Spark 4 SQL UDF + parameterized SQL)",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN least(greatest(CAST(n_chars AS DOUBLE) / 20.0, 0.0),
                               100.0) >= 50.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_band
FROM documents
WHERE n_chars > 100
GROUP BY lang
""",
)
def sql_udf_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-surface coverage in one query: a SQL-defined UDF
    (`CREATE OR REPLACE TEMPORARY FUNCTION ... RETURN least(...)`) —
    a declarative scalar function that stays fully inside Catalyst
    (inlined into the plan, codegen'd, predicate-pushdown-friendly —
    everything a Python UDF is not) — applied through a
    PARAMETERIZED `spark.sql` call (named parameter markers, the
    injection-safe API for user-supplied thresholds).  The oracle
    spells the UDF body inline, proving the function definition
    round-trips through the catalog unchanged.
    """
    load(spark, sf_dir, "documents").createOrReplaceTempView(
        "sql_udf_docs"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION clamp_score(x DOUBLE)
        RETURNS DOUBLE
        RETURN least(greatest(x, 0.0), 100.0)
        """
    )
    return spark.sql(
        """
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN clamp_score(CAST(n_chars AS DOUBLE) / 20.0)
                                  >= :band THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_high_band
        FROM sql_udf_docs
        WHERE n_chars > :minlen
        GROUP BY lang
        """,
        args={"band": 50.0, "minlen": 100},
    )


_MRR_LCM = 2520  # lcm(1..10): makes 2520/rank an exact integer


@register(
    "popularity_recsys_eval",
    survey="W4,A18 (extension: recommender hit-rate@10 / exact MRR)",
    oracle=f"""
WITH pop AS (
    SELECT l_suppkey,
           row_number() OVER (ORDER BY count(*) DESC, l_suppkey) AS rnk
    FROM lineitem GROUP BY l_suppkey
    ORDER BY count(*) DESC, l_suppkey LIMIT 10
),
truth AS (
    SELECT DISTINCT o.o_custkey, l.l_suppkey
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hits AS (
    SELECT t.o_custkey, CAST(min(p.rnk) AS BIGINT) AS first_hit
    FROM truth t JOIN pop p ON t.l_suppkey = p.l_suppkey
    GROUP BY t.o_custkey
),
users AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n FROM truth)
SELECT users.n AS n_users,
       CAST(count(hits.o_custkey) AS BIGINT) AS n_hit,
       CAST(sum({_MRR_LCM} // hits.first_hit) AS BIGINT) AS mrr_scaled,
       floor(CAST(count(hits.o_custkey) AS DOUBLE) / CAST(users.n AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS hit_rate_at_10,
       floor(CAST(sum({_MRR_LCM} // hits.first_hit) AS DOUBLE)
             / ({_MRR_LCM}.0 * CAST(users.n AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS mrr_at_10
FROM users LEFT JOIN hits ON TRUE
GROUP BY users.n
""",
)
def popularity_recsys_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender evaluation of the popularity baseline: recommend
    every customer the global top-10 suppliers by volume, score
    against each customer's ACTUAL supplier set — hit-rate@10 and
    MRR@10, the metrics any learned recommender must beat (the
    popularity-baseline sanity check recsys papers are required to
    report).

    The MRR reciprocal-rank sum — normally an order-sensitive float
    accumulation — is EXACT here: with ranks ≤ 10, 2520/rank
    (lcm(1..10)) is an integer, so the scaled MRR is an int64 sum
    and the display value one final division.  Hit ranks come from a
    min over the broadcast 10-row popularity list joined to the
    deduped customer-supplier truth grain.
    """
    from pyspark.sql import Window

    from ..functions.core import round_stable

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pop = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("l_suppkey"))),
        )
        .filter(F.col("rnk") <= 10)
        .select("l_suppkey", "rnk")
    )
    truth = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    hits = (
        truth.join(F.broadcast(pop), "l_suppkey")
        .groupBy("o_custkey")
        .agg(F.min("rnk").cast("long").alias("first_hit"))
    )
    users = truth.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_users")
    )
    agg = hits.agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.expr(f"{_MRR_LCM} div first_hit")).alias("mrr_scaled"),
    ).crossJoin(F.broadcast(users))
    return agg.select(
        "n_users",
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("mrr_scaled").cast("long").alias("mrr_scaled"),
        round_stable(
            F.col("n_hit").cast("double") / F.col("n_users").cast("double"), 6
        ).alias("hit_rate_at_10"),
        round_stable(
            F.col("mrr_scaled").cast("double")
            / (F.lit(float(_MRR_LCM)) * F.col("n_users").cast("double")),
            6,
        ).alias("mrr_at_10"),
    )


@register(
    "item_cooccurrence_topk",
    survey="LLM/recsys extension: item-item co-occurrence with lift (market-basket CF)",
    bench=True,
    oracle="""
WITH basket AS (
    SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
n AS (
    SELECT count(DISTINCT l_orderkey) AS n_orders FROM basket
),
item AS (
    SELECT l_suppkey AS item, count(*) AS c_i FROM basket GROUP BY l_suppkey
),
pair AS (
    SELECT a.l_suppkey AS ia, b.l_suppkey AS ib, count(*) AS c_ab
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY a.l_suppkey, b.l_suppkey
),
directed AS (
    SELECT ia AS item, ib AS partner, c_ab FROM pair
    UNION ALL
    SELECT ib AS item, ia AS partner, c_ab FROM pair
),
scored AS (
    SELECT d.item, d.partner, CAST(d.c_ab AS BIGINT) AS c_ab,
           CAST((1000000::HUGEINT * n.n_orders * d.c_ab)
                // (i.c_i::HUGEINT * p.c_i) AS BIGINT)
               AS lift_ppm
    FROM directed d
    CROSS JOIN n
    JOIN item i ON i.item = d.item
    JOIN item p ON p.item = d.partner
)
SELECT item, partner, c_ab, lift_ppm, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY item ORDER BY lift_ppm DESC, c_ab DESC, partner
    ) AS rk
    FROM scored
)
WHERE rk <= 3
""",
)
def item_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: for every
    supplier, the top-3 co-purchased partners ranked by lift
    (n·c_ab / (c_a·c_b) > 1 ⟺ the pair co-occurs more than
    independence predicts) — the classic "customers also bought"
    candidate generator next to `popularity_recsys_eval`'s baseline.

    Lift is emitted as an exact INTEGER ppm (single int64 floor
    division of exact counts on both engines) so the ranking and the
    value hash are float-free.  Scale shape: the pair grain comes from
    a self equi-join on the basket key — work is Σ(basket size²),
    never corpus², and the per-item top-3 is a bounded window.  At
    100 TB the basket self-join shuffles on l_orderkey once; the two
    item-count joins broadcast (item cardinality ≪ pair cardinality).
    """
    from ..functions.cache import tracked_persist

    # ONE distinct pass to the basket grain, persisted PRE-PARTITIONED
    # on the basket key: the pair self-join then needs no shuffle at
    # all (both sides share the cached HashPartitioning), and the item
    # counts / n_orders scalar reuse the same silver instead of
    # re-scanning + re-deduping lineitem four times (4.5 s → ~1 s at
    # sf0.1; the 100 TB shape is one shuffle to basket grain, total).
    basket = tracked_persist(
        load(spark, sf_dir, "lineitem", fan_out=True)
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .repartition("l_orderkey"),
        "item_cooccurrence.basket",
    )
    # single-parse stages (r14, guide §5/§7.3) — identical arithmetic
    # to the former Column chain (690 round trips/build)
    n = basket.agg(F.expr("count(DISTINCT l_orderkey)").alias("n_orders"))
    item = basket.selectExpr("l_suppkey AS item").groupBy("item").agg(
        F.expr("count(1)").alias("c_i")
    )
    a = basket.selectExpr("l_orderkey AS k", "l_suppkey AS ia")
    b = basket.selectExpr("l_orderkey AS k", "l_suppkey AS ib")
    # persisted: the directed union consumes this aggregate TWICE and
    # Spark re-executes unshared subtrees per union branch — without
    # the persist the basket self-join + pair groupBy run double
    pair = tracked_persist(
        a.join(b, "k")
        .filter("ia < ib")
        .groupBy("ia", "ib")
        .agg(F.expr("count(1)").alias("c_ab")),
        "item_cooccurrence.pairs",
    )
    directed = pair.selectExpr(
        "ia AS item", "ib AS partner", "c_ab"
    ).unionByName(pair.selectExpr("ib AS item", "ia AS partner", "c_ab"))
    ci = F.broadcast(item)
    scored = (
        directed.crossJoin(F.broadcast(n))
        .join(ci, "item")
        .join(ci.selectExpr("item AS partner", "c_i AS c_p"), "partner")
        .selectExpr(
            "item",
            "partner",
            "CAST(c_ab AS BIGINT) AS c_ab",
            # DECIMAL(38,0) carrier for the ppm numerator/denominator:
            # in int64, 1e6·n_orders·c_ab overflows past n≈3e6 baskets
            # (and c_i·c_p past counts ≈3e9), where non-ANSI Spark
            # wraps silently while DuckDB promotes to int128 — a
            # latent cross-engine divergence.  The QUOTIENT itself is
            # bounded by 1e6·n_orders, so the BIGINT output column is
            # safe for any n below ~9e12 baskets.
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_orders * c_ab)"
            " div (CAST(c_i AS DECIMAL(38,0)) * c_p) AS BIGINT) AS lift_ppm",
        )
    )
    # single-parse rank tail (r13, guide §5/§7.3): same window, same
    # filter, same INT rk as the former withColumn/filter/cast chain
    return (
        scored.selectExpr(
            "*",
            "CAST(row_number() OVER (PARTITION BY item ORDER BY "
            "lift_ppm DESC, c_ab DESC, partner ASC) AS INT) AS rk",
        )
        .filter("rk <= 3")
        .select("item", "partner", "c_ab", "lift_ppm", "rk")
    )


@register(
    "mad_robust_outliers",
    survey="stats extension: median/MAD robust outlier counts per event type",
    oracle="""
WITH ev AS (
    SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
),
ranked AS (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ev
),
med AS (
    SELECT event_type, n, value AS med_value
    FROM ranked WHERE rk = (n + 1) // 2
),
dev AS (
    SELECT e.event_type, e.event_id, abs(e.value - m.med_value) AS d
    FROM ev e JOIN med m ON e.event_type = m.event_type
),
dev_ranked AS (
    SELECT event_type, d,
           row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM dev
),
mad AS (
    SELECT event_type, d AS mad_value
    FROM dev_ranked WHERE rk = (n + 1) // 2
)
SELECT m.event_type,
       CAST(med.n AS BIGINT) AS n_events,
       med.med_value,
       m.mad_value AS mad,
       CAST(sum(CASE WHEN dev.d > 3.5 * m.mad_value THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM mad m
JOIN med ON med.event_type = m.event_type
JOIN dev ON dev.event_type = m.event_type
GROUP BY m.event_type, med.n, med.med_value, m.mad_value
""",
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: lower-median of value,
    MAD (lower-median of |value − median|), and how many events sit
    beyond the 3.5·MAD fence — the dispersion-robust alternative to
    `daily_burst_zscores`' mean/stddev (one far outlier cannot drag
    the fence toward itself).

    Cross-engine hygiene: medians are RANK-SELECTED (row_number with
    an event_id tiebreak — never interpolated), so med/mad are
    verbatim 2dp parquet values resp. one IEEE subtraction of two such
    values; the fence compare `d > 3.5·mad` is a single identically-
    rounded multiply on both engines.  Scale shape: two windowed
    passes partitioned by event_type plus a broadcast join of the
    per-type medians (type cardinality is tiny); nothing global.
    """
    ev = (
        load(spark, sf_dir, "events", fan_out=True)
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wv).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(F.col("rk") == F.expr("(n + 1) div 2")).select(
        "event_type", "n", F.col("value").alias("med_value")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "n",
        "med_value",
        F.abs(F.col("value") - F.col("med_value")).alias("d"),
    )
    wd = Window.partitionBy("event_type").orderBy("d", "event_id")
    mad = (
        dev.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("d").alias("mad_value"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med_value", "mad_value")
        .agg(
            F.sum(
                F.when(F.col("d") > 3.5 * F.col("mad_value"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            "med_value",
            F.col("mad_value").alias("mad"),
            "n_outliers",
        )
    )


@register(
    "quantile_normalize_values",
    survey="ML-prep extension: per-group quantile (rank) normalization",
    oracle="""
WITH ev AS (
    SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
),
ranked AS (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ev
)
SELECT event_type, event_id, value,
       CAST((rk * 1000000) // (n + 1) AS BIGINT) AS pct_ppm
FROM ranked
""",
)
def quantile_normalize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of event values within each event
    type — the distribution-free feature transform that makes
    heavy-tailed metrics comparable across groups and models (each
    value maps to its within-group quantile rk/(n+1), emitted as an
    exact int64 ppm so no float rank ever exists).  Ties are
    total-ordered by (value, event_id) so both engines assign the
    identical rank — the same tie discipline as the MAD and median
    operators.

    Scale shape: ONE window partitioned by event_type (the count
    rides the same partition — no second shuffle, no join-back); at
    100 TB each group sorts independently, and a group too hot for
    one task takes the two-level salted-rank treatment
    (`negative_sample_pairs`' pattern) without changing the output."""
    ev = (
        load(spark, sf_dir, "events", fan_out=True)
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(wv).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # integer `div`, never float-divide-then-cast: a correctly-rounded
    # double quotient landing ON an integer would truncate one off
    # from the exact floor
    return ranked.select(
        "event_type",
        "event_id",
        "value",
        F.expr("(rk * 1000000) div (n + 1)").cast("bigint").alias("pct_ppm"),
    )


@register(
    "grouped_median_arrow",
    survey="§2.11 extension: Spark 4 applyInArrow grouped map (Arrow-native UDF surface)",
    oracle="""
WITH ev AS (
    SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
),
ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ev
)
SELECT event_type, CAST(n AS BIGINT) AS n_events, value AS med_value
FROM ranked WHERE rk = (n + 1) // 2
""",
)
def grouped_median_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group lower median through Spark 4's `applyInArrow` —
    the Arrow-NATIVE grouped-map surface (no pandas materialization:
    the group arrives as a pyarrow.Table, sort + rank-select happen in
    Arrow compute, and the result Table goes straight back over the
    same IPC stream).  Twin of the pandas-UDF surfaces already
    registered (`weighted_median_grouped_agg`, grouped OLS): same
    rank-select median contract as `mad_robust_outliers`, so the
    DuckDB oracle is the usual row_number replay and the value hash is
    exact.

    Scale shape: one shuffle on the group key; each group is
    processed by one task (fine for bounded per-group cardinality —
    event types here; a hot group takes the salted two-level
    rank-select instead).  Arrow-native grouped maps halve the
    serialization cost of the pandas path for numeric batches — this
    query exists to keep that surface exercised and oracle-checked."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = (
        load(spark, sf_dir, "events", fan_out=True)
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )

    def med(tbl: pa.Table) -> pa.Table:
        idx = pc.sort_indices(
            tbl, sort_keys=[("value", "ascending"), ("event_id", "ascending")]
        )
        n = tbl.num_rows
        pick = idx[(n + 1) // 2 - 1].as_py()
        return pa.table(
            {
                "event_type": [tbl.column("event_type")[0].as_py()],
                "n_events": pa.array([n], type=pa.int64()),
                "med_value": [tbl.column("value")[pick].as_py()],
            }
        )

    return ev.groupBy("event_type").applyInArrow(
        med, schema="event_type string, n_events long, med_value double"
    )
