"""Collector-side scoring aggregations (SURVEY.md §2.4 A11–A14 and
§2.9 M8–M9): job-posting analysis, review culture scoring, board
governance scoring, signal summaries, talent concentration and its
risk adjustment.

The reference computes these with Python loops over fetched rows
(app/scoring_engine/talent_concentration.py:47-90,
app/pipelines/glassdoor_collector.py:129-222,
app/pipelines/board_analyzer.py:57-129, app/pipelines/job_signals.py:81-144);
here each is a single declarative groupBy over the corpus tables so
Catalyst gets full pushdown and the aggregation is partial-agg
friendly (map-side combine) — the shape that survives a 100 TB scan.

Demo-domain mapping (deterministic, replayed identically in the
DuckDB oracle SQL):
- `documents` rows play job postings / Glassdoor reviews / board
  proxies, grouped by `source` (the company analog);
- `events` rows play external signals, grouped by `event_type`;
- recency comes from `doc_id`-derived ages (documents carry no
  timestamp) and from `events.ts` against a fixed literal "now"
  (2024-01-31) so reruns are reproducible (SURVEY.md §7 determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import clamp_sql
from ..scoring.talent import talent_concentration_sql, talent_risk_adjustment_sql
from ..sources.catalog import load, ns
from .registry import register

# Substring-containment semantics on purpose (`kw in text`, reference
# evidence_mapper.py:289-291) — NOT word-boundary regex; SURVEY.md §7
# flags the two as deliberately distinct match semantics.
AI_KEYWORD = "spark"
SENIOR_KEYWORD = "merge"
MID_KEYWORD = "sort"
SKILL_VOCAB = ("join", "hash", "window", "stream", "vector", "agg")

_NOW = "2024-01-31"


def _contains(colname: str, kw: str):
    return F.col(colname).contains(kw)


# --------------------------------------------------------------------------
# A11 — job-posting analysis
# --------------------------------------------------------------------------

_JOBS_AGG_SQL = f"""
posts AS (
    SELECT source AS company,
           text,
           contains(text, '{AI_KEYWORD}') AS is_ai,
           CASE WHEN contains(text, '{SENIOR_KEYWORD}') THEN 'senior'
                WHEN contains(text, '{MID_KEYWORD}') THEN 'mid'
                ELSE 'entry' END AS tier
    FROM documents
),
jobs AS (
    SELECT company,
           count(*) AS n_posts,
           CAST(sum(CASE WHEN is_ai THEN 1 ELSE 0 END) AS BIGINT) AS n_ai,
           round(avg(CASE WHEN is_ai THEN 1.0 ELSE 0.0 END), 6) AS ai_ratio,
           CAST(sum(CASE WHEN tier = 'senior' THEN 1 ELSE 0 END) AS BIGINT) AS n_senior,
           CAST(sum(CASE WHEN tier = 'mid' THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
           CAST({" + ".join(f"max(CASE WHEN contains(text, '{w}') THEN 1 ELSE 0 END)" for w in SKILL_VOCAB)}
                AS BIGINT) AS n_skills
    FROM posts
    GROUP BY company
)"""


def job_posting_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared A11 aggregate: per company — post count, AI ratio,
    seniority-tier counts, distinct-skill count from a fixed vocab
    (reference talent_concentration.py:47-90).  The skill census is
    Σ_w max(contains(text, w)) — one pass, no explode, no shuffle
    beyond the single groupBy."""
    d = load(spark, sf_dir, "documents")
    posts = d.select(
        F.col("source").alias("company"),
        "text",
        _contains("text", AI_KEYWORD).alias("is_ai"),
        F.when(_contains("text", SENIOR_KEYWORD), F.lit("senior"))
        .when(_contains("text", MID_KEYWORD), F.lit("mid"))
        .otherwise(F.lit("entry"))
        .alias("tier"),
    )
    skill_census = None
    for w in SKILL_VOCAB:
        m = F.max(_contains("text", w).cast("int"))
        skill_census = m if skill_census is None else skill_census + m
    return posts.groupBy("company").agg(
        F.count(F.lit(1)).alias("n_posts"),
        F.sum(F.col("is_ai").cast("int")).cast("bigint").alias("n_ai"),
        F.round(F.avg(F.col("is_ai").cast("double")), 6).alias("ai_ratio"),
        F.sum((F.col("tier") == "senior").cast("int")).cast("bigint").alias("n_senior"),
        F.sum((F.col("tier") == "mid").cast("int")).cast("bigint").alias("n_mid"),
        skill_census.cast("bigint").alias("n_skills"),
    )


@register(
    "job_posting_analysis",
    survey="A11,P8,F12",
    oracle=f"""
WITH {_JOBS_AGG_SQL.lstrip()}
SELECT company, n_posts, n_ai, ai_ratio, n_senior, n_mid, n_skills
FROM jobs
""",
)
def job_posting_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: AI-post filter + seniority bucketing + skill census per
    company (reference talent_concentration.py:47-90)."""
    return job_posting_aggregate(spark, sf_dir)


# --------------------------------------------------------------------------
# M8 + M9 — talent concentration and risk adjustment
# --------------------------------------------------------------------------


@register(
    "talent_concentration",
    survey="M8,M9,A11",
    oracle=f"""
WITH {_JOBS_AGG_SQL.lstrip()},
tc AS (
    SELECT company, n_posts, n_senior, n_skills,
           round(least(greatest(
               0.4 * (CAST(n_senior AS DOUBLE) / greatest(n_posts, 1))
               + 0.3 * least(1.0, 1.0 / (sqrt(CAST(n_posts AS DOUBLE)) + 0.1))
               + 0.2 * greatest(0.0, 1.0 - CAST(n_skills AS DOUBLE) / 15.0)
               + 0.1 * 0.5,
           0.0), 1.0), 4) AS tc
    FROM jobs
)
SELECT company, n_posts, n_senior, n_skills, tc,
       round(least(greatest(1.0 - 0.15 * greatest(0.0, tc - 0.25), 0.0), 1.0), 4)
           AS talent_risk_adj
FROM tc
""",
)
def talent_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 TC = 0.4·leadership_ratio + 0.3·min(1, 1/(√n+0.1)) +
    0.2·max(0, 1−skills/15) + 0.1·individual_factor, clamped [0,1] and
    quantized to 1e-4 (reference app/scoring/talent_concentration.py:18-45);
    M9 risk adjustment 1 − 0.15·max(0, TC−0.25)
    (talent_concentration.py:93-100).  Pure column math over A11."""
    jobs = job_posting_aggregate(spark, sf_dir)
    tc = talent_concentration_sql(
        "(CAST(n_senior AS DOUBLE) / greatest(n_posts, 1))", "n_posts", "n_skills", "0.5D"
    )
    out = jobs.selectExpr("company", "n_posts", "n_senior", "n_skills", f"round({tc}, 4) AS tc")
    risk = F.expr(f"round({talent_risk_adjustment_sql('tc')}, 4)")
    return out.withColumn("talent_risk_adj", risk)


# --------------------------------------------------------------------------
# A12 — review culture scoring
# --------------------------------------------------------------------------

_CULTURE_CLASSES: tuple[tuple[str, tuple[str, str], float], ...] = (
    ("growth", ("fast", "spark"), 0.30),
    ("balance", ("slow", "batch"), 0.25),
    ("compensation", ("value", "key"), 0.25),
    ("management", ("merge", "sort"), 0.20),
)


def _culture_sub_sql(kws: tuple[str, str]) -> str:
    hit = f"(CASE WHEN contains(text, '{kws[0]}') OR contains(text, '{kws[1]}') THEN 1.0 ELSE 0.0 END)"
    return f"sum(w * {hit}) / sum(w)"


@register(
    "review_culture_scores",
    survey="A12,F6,F10",
    oracle=f"""
WITH reviews AS (
    SELECT source AS company, text,
           (doc_id * 13) % 1000 AS days_old,
           (CASE WHEN (doc_id * 13) % 1000 <= 730 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN doc_id % 3 = 0 THEN 1.2 ELSE 1.0 END) AS w
    FROM documents
),
subs AS (
    SELECT company,
           count(*) AS n_reviews,
           {", ".join(f"{_culture_sub_sql(kws)} AS {name}" for name, kws, _ in _CULTURE_CLASSES)}
    FROM reviews
    GROUP BY company
)
SELECT company, n_reviews,
       {", ".join(f"round({name} * 100.0, 4) AS {name}_score" for name, _, _ in _CULTURE_CLASSES)},
       round(100.0 * ({" + ".join(f"{wt} * {name}" for name, _, wt in _CULTURE_CLASSES)}), 4)
           AS culture_score,
       round(0.40 + least(CAST(n_reviews AS DOUBLE), 100.0) / 100.0 * 0.45, 4) AS confidence
FROM subs
""",
)
def review_culture_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: recency/current-employee-weighted keyword hit-rates over
    reviews, four sub-scores blended 0.30/0.25/0.25/0.20, confidence
    0.40 + min(n,100)/100·0.45 (reference
    glassdoor_collector.py:129-222).  The reference's per-review
    Python loop becomes one weighted groupBy."""
    d = load(spark, sf_dir, "documents")
    days_old = (F.col("doc_id") * 13) % 1000
    w = F.when(days_old <= 730, F.lit(1.0)).otherwise(F.lit(0.5)) * F.when(
        F.col("doc_id") % 3 == 0, F.lit(1.2)
    ).otherwise(F.lit(1.0))
    reviews = d.select(F.col("source").alias("company"), "text", w.alias("w"))

    aggs = [F.count(F.lit(1)).alias("n_reviews")]
    for name, kws, _wt in _CULTURE_CLASSES:
        hit = (_contains("text", kws[0]) | _contains("text", kws[1])).cast("double")
        aggs.append((F.sum(F.col("w") * hit) / F.sum("w")).alias(name))
    subs = reviews.groupBy("company").agg(*aggs)

    blend = None
    for name, _kws, wt in _CULTURE_CLASSES:
        term = F.lit(wt) * F.col(name)
        blend = term if blend is None else blend + term
    cols = [F.col("company"), F.col("n_reviews")]
    cols += [
        F.round(F.col(name) * 100.0, 4).alias(f"{name}_score")
        for name, _kws, _wt in _CULTURE_CLASSES
    ]
    cols.append(F.round(blend * 100.0, 4).alias("culture_score"))
    cols.append(
        F.round(
            0.40 + F.least(F.col("n_reviews").cast("double"), F.lit(100.0)) / 100.0 * 0.45, 4
        ).alias("confidence")
    )
    return subs.select(*cols)


# --------------------------------------------------------------------------
# A13 — board governance scoring
# --------------------------------------------------------------------------

_BOARD_RULES: tuple[tuple[str, str, int], ...] = (
    # (rule name, keyword, points) — mirrors the additive rule table in
    # reference board_analyzer.py:57-129 (base 20, feature points, cap 100).
    ("tech_committee", "window", 15),
    ("ai_expert", "vector", 20),
    ("data_officer", "stream", 15),
    ("risk_tech", "merge", 10),
    ("ai_in_strategy", "spark", 10),
)


@register(
    "board_governance_scores",
    survey="A13,F12",
    oracle=f"""
WITH proxies AS (
    SELECT source AS company, text, n_chars FROM documents
),
rules AS (
    SELECT company,
           count(*) AS n_docs,
           {", ".join(f"max(CASE WHEN contains(text, '{kw}') THEN {pts} ELSE 0 END) AS {name}" for name, kw, pts in _BOARD_RULES)},
           CASE WHEN avg(CAST(n_chars AS DOUBLE)) > 150.0 THEN 10 ELSE 0 END AS independent_majority
    FROM proxies
    GROUP BY company
)
SELECT company, n_docs,
       {", ".join(name for name, _, _ in _BOARD_RULES)},
       independent_majority,
       least(20 + {" + ".join(name for name, _, _ in _BOARD_RULES)} + independent_majority, 100)
           AS governance_score
FROM rules
""",
)
def board_governance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: additive board-governance rule score — base 20 plus fixed
    points per detected feature, capped at 100 (reference
    board_analyzer.py:57-129) — a when/otherwise chain summed and
    `least`-capped."""
    d = load(spark, sf_dir, "documents")
    proxies = d.select(F.col("source").alias("company"), "text", "n_chars")
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, kw, pts in _BOARD_RULES:
        aggs.append(
            F.max(F.when(_contains("text", kw), F.lit(pts)).otherwise(F.lit(0))).alias(name)
        )
    aggs.append(
        F.when(F.avg(F.col("n_chars").cast("double")) > 150.0, F.lit(10))
        .otherwise(F.lit(0))
        .alias("independent_majority")
    )
    rules = proxies.groupBy("company").agg(*aggs)
    total = F.lit(20)
    for name, _kw, _pts in _BOARD_RULES:
        total = total + F.col(name)
    total = total + F.col("independent_majority")
    return rules.select(
        "company",
        "n_docs",
        *[F.col(name) for name, _, _ in _BOARD_RULES],
        F.col("independent_majority"),
        F.least(total, F.lit(100)).alias("governance_score"),
    )


# --------------------------------------------------------------------------
# A14 — signal summaries (jobs/patents/tech style scoring)
# --------------------------------------------------------------------------


@register(
    "signal_summaries",
    survey="A14,W3,F6,P5",
    oracle=f"""
WITH sig AS (
    SELECT event_type AS signal_type,
           user_id,
           value,
           (epoch_ns(TIMESTAMP '{_NOW}') - epoch_ns(ts)) / 86400e9 AS age_days
    FROM events
    WHERE ts < TIMESTAMP '{_NOW}'
),
agg AS (
    SELECT signal_type,
           count(*) AS n_items,
           avg(CASE WHEN value > 5.0 THEN 1.0 ELSE 0.0 END) AS ai_ratio,
           avg(CASE WHEN user_id % 5 = 0 THEN 1.0 ELSE 0.0 END) AS senior_ratio,
           least(CAST(count(DISTINCT user_id) AS DOUBLE) / 8.0, 1.0) AS diversity,
           quantile_cont(age_days, 0.5) AS median_age_days
    FROM sig
    GROUP BY signal_type
)
SELECT signal_type, n_items,
       round(ai_ratio, 6) AS ai_ratio,
       round(senior_ratio, 6) AS senior_ratio,
       round(diversity, 6) AS diversity,
       round(median_age_days, 6) AS median_age_days,
       round(least(greatest(1.0 - median_age_days / 180.0, 0.0), 1.0), 6) AS recency_factor,
       round(100.0 * (0.55 * ai_ratio + 0.20 * senior_ratio + 0.15 * diversity
             + 0.10 * least(greatest(1.0 - median_age_days / 180.0, 0.0), 1.0)), 4)
           AS signal_score
FROM agg
""",
)
def signal_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: per-signal-type summary — AI ratio, senior ratio, source
    diversity min(n/8, 1), exact median age, recency factor
    1 − days/180, and the fixed-weight 0.55/0.20/0.15/0.10 score
    (reference job_signals.py:81-144, patent_signals.py:114-159).
    The reference's Python middle-element median becomes a distributed
    exact `percentile`; ages are computed against a fixed literal
    "now" for rerun determinism."""
    ev = load(spark, sf_dir, "events")
    now_ns = ns(_NOW)
    sig = ev.filter(F.col("ts") < F.lit(now_ns)).select(
        F.col("event_type").alias("signal_type"),
        "user_id",
        "value",
        ((F.lit(now_ns) - F.col("ts")) / F.lit(86400e9)).alias("age_days"),
    )
    agg = sig.groupBy("signal_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.avg((F.col("value") > 5.0).cast("double")).alias("ai_ratio"),
        F.avg((F.col("user_id") % 5 == 0).cast("double")).alias("senior_ratio"),
        F.least(F.countDistinct("user_id").cast("double") / 8.0, F.lit(1.0)).alias(
            "diversity"
        ),
        F.percentile("age_days", F.lit(0.5)).alias("median_age_days"),
    )
    recency = clamp_sql("1.0D - median_age_days / 180.0D", 0.0, 1.0)
    return agg.selectExpr(
        "signal_type",
        "n_items",
        "round(ai_ratio, 6) AS ai_ratio",
        "round(senior_ratio, 6) AS senior_ratio",
        "round(diversity, 6) AS diversity",
        "round(median_age_days, 6) AS median_age_days",
        f"round({recency}, 6) AS recency_factor",
        "round((ai_ratio * 0.55D + senior_ratio * 0.2D + diversity * 0.15D"
        f" + {recency} * 0.1D) * 100.0D, 4) AS signal_score",
    )
