"""Scoring-engine queries (SURVEY.md §2.9 M-family) registered with
DuckDB oracles, all over the deterministic demo domain derived from
the TPC-H test tables (scoring/demo_domain.py).

The oracle SQL replays the exact same derivation + formulas in ANSI
SQL, so the correctness gate pins the whole scoring stack — VR
weighted mean, CV penalty, HHI tiering, HR, formula synergy,
composite + banding, rule synergy, Spearman-Brown SEM — against an
independent engine.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import clamp_sql
from ..scoring import config as C
from ..scoring.demo_domain import dimension_scores
from ..scoring.pipeline import score_portfolio
from ..scoring.synergy import rule_synergy
from .registry import register

# --- shared oracle CTEs: the demo-domain derivation in DuckDB SQL ----------

_EV_SQL = """
ev AS (
    SELECT o.o_custkey AS company_id,
           CASE (l.l_linenumber % 7)
             WHEN 0 THEN 'data_infrastructure'
             WHEN 1 THEN 'ai_governance'
             WHEN 2 THEN 'technology_stack'
             WHEN 3 THEN 'talent_skills'
             WHEN 4 THEN 'leadership_vision'
             WHEN 5 THEN 'use_case_portfolio'
             WHEN 6 THEN 'culture_change'
           END AS dimension,
           CAST((l.l_partkey * 7 + l.l_suppkey) % 101 AS DOUBLE) AS score_raw,
           CAST(l.l_orderkey % 10 AS DOUBLE) / 10.0 AS conf_raw,
           l.l_suppkey AS supp_key
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
)"""

_DS_SQL = """
ds AS (
    SELECT company_id, dimension,
           avg(score_raw) AS score,
           avg(conf_raw) AS confidence,
           count(*) AS evidence_count
    FROM ev
    GROUP BY company_id, dimension
)"""

_WEIGHT_CASE = """CASE dimension
             WHEN 'data_infrastructure' THEN 0.25
             WHEN 'ai_governance' THEN 0.20
             WHEN 'technology_stack' THEN 0.15
             WHEN 'talent_skills' THEN 0.15
             WHEN 'leadership_vision' THEN 0.10
             WHEN 'use_case_portfolio' THEN 0.10
             WHEN 'culture_change' THEN 0.05
           END"""

_COMPANIES_SQL = """
comp AS (
    SELECT c_custkey AS company_id,
           CASE c_mktsegment
             WHEN 'AUTOMOBILE' THEN 'Industrials'
             WHEN 'BUILDING' THEN 'Financial'
             WHEN 'FURNITURE' THEN 'Consumer'
             WHEN 'HOUSEHOLD' THEN 'Services'
             WHEN 'MACHINERY' THEN 'Healthcare'
             ELSE 'Services'
           END AS sector,
           least(greatest(c_acctbal / 10000.0, -1.0), 1.0) AS position_factor
    FROM customer
)"""


@register(
    "dimension_scores_table",
    survey="A7,J2",
    oracle=f"""
WITH {_EV_SQL.lstrip()},
{_DS_SQL.lstrip()}
SELECT company_id, dimension,
       round(score, 6) AS score,
       round(confidence, 6) AS confidence,
       evidence_count
FROM ds
""",
)
def dimension_scores_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension_scores silver table (reference schema.sql:51-63)
    derived from raw evidence — one groupBy, partial-agg friendly.

    Reference: app/scoring_engine/evidence_mapper.py:159-213; schema.sql:51-63.
    """
    ds = dimension_scores(spark, sf_dir)
    return ds.select(
        "company_id",
        "dimension",
        F.round("score", 6).alias("score"),
        F.round("confidence", 6).alias("confidence"),
        "evidence_count",
    )


_FLAGSHIP_CTES = f"""{_EV_SQL.lstrip()},
{_DS_SQL.lstrip()},
{_COMPANIES_SQL.lstrip()},
dsw AS (
    SELECT *,
           {_WEIGHT_CASE} AS w,
           greatest(confidence, 0.2) AS conf_eff
    FROM ds
),
vr AS (
    SELECT company_id,
           least(greatest(
               CASE WHEN sum(w * conf_eff) <> 0
                    THEN sum(score * w * conf_eff) / sum(w * conf_eff)
                    ELSE 0.0 END, 0.0), 100.0) AS vr_raw,
           CASE WHEN abs(avg(score)) > 0
                THEN stddev_pop(score) / abs(avg(score))
                ELSE 0.0 END AS cv
    FROM dsw
    GROUP BY company_id
),
vrp AS (
    SELECT company_id, vr_raw, cv,
           least(greatest(1 - 0.25 * cv, 0.0), 1.0) AS cv_penalty,
           least(greatest(vr_raw * least(greatest(1 - 0.25 * cv, 0.0), 1.0), 0.0), 100.0)
               AS vr_score
    FROM vr
),
supp AS (
    SELECT company_id, supp_key, count(*) AS cnt
    FROM ev GROUP BY company_id, supp_key
),
h AS (
    SELECT company_id,
           sum((CAST(cnt AS DOUBLE) / tot) ^ 2) AS hhi,
           CAST(sum(cnt) AS BIGINT) AS n_items
    FROM (SELECT *, sum(cnt) OVER (PARTITION BY company_id) AS tot FROM supp)
    GROUP BY company_id
),
scored AS (
    SELECT v.company_id, c.sector, v.vr_score, h.hhi, h.n_items,
           CAST(CASE WHEN h.n_items < 15 THEN 1.0
                WHEN h.hhi >= 0.70 THEN 0.85
                WHEN h.hhi >= 0.40 THEN 0.95
                ELSE 1.0 END AS DOUBLE) AS hhi_factor,
           CASE c.sector
             WHEN 'Industrials' THEN 72.0
             WHEN 'Healthcare' THEN 78.0
             WHEN 'Services' THEN 75.0
             WHEN 'Consumer' THEN 70.0
             WHEN 'Financial' THEN 80.0
             ELSE 75.0 END AS hr_base,
           c.position_factor
    FROM vrp v
    JOIN h ON v.company_id = h.company_id
    JOIN comp c ON v.company_id = c.company_id
),
final AS (
    SELECT company_id, sector, hhi, hhi_factor, n_items,
           least(greatest(vr_score * hhi_factor, 0.0), 100.0) AS vr_final,
           least(greatest(hr_base * (1.0 + 0.15 * position_factor), 0.0), 100.0) AS hr_final
    FROM scored
),
syn AS (
    SELECT *,
           least(greatest(
               (vr_final * hr_final / 100.0)
               * least(greatest(1.0 - abs(vr_final - hr_final) / 100.0, 0.0), 1.0)
               * 1.0,
           0.0), 100.0) AS syn_final
    FROM final
),
agg AS (
    SELECT *,
           floor(least(greatest(
               (1.0 - 0.12) * (0.60 * vr_final + 0.40 * hr_final) + 0.12 * syn_final,
           0.0), 100.0) * 10000.0 + 0.5) / 10000.0 AS composite_score
    FROM syn
)"""

_FLAGSHIP_SQL = f"""
WITH {_FLAGSHIP_CTES}
SELECT company_id, sector,
       floor(vr_final * 10000.0 + 0.5) / 10000.0 AS vr_score,
       floor(hr_final * 10000.0 + 0.5) / 10000.0 AS hr_score,
       floor(syn_final * 10000.0 + 0.5) / 10000.0 AS synergy_score,
       composite_score,
       CASE WHEN composite_score <= 20 THEN 'Nascent'
            WHEN composite_score <= 40 THEN 'Developing'
            WHEN composite_score <= 60 THEN 'Progressing'
            WHEN composite_score <= 80 THEN 'Advanced'
            ELSE 'Leading' END AS score_band,
       floor(hhi * 1000000.0 + 0.5) / 1000000.0 AS hhi,
       hhi_factor,
       n_items
FROM agg
"""


@register(
    "org_air_flagship",
    survey="M1,M3,M4,M6,M10,M12,A6,A9,A10,J1,J2",
    bench=True,
    oracle=_FLAGSHIP_SQL,
)
def org_air_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: full Org-AI-R composite per company in one DAG
    (reference scripts/run_scoring_engine.py:286-554 re-expressed as a
    single declarative plan)."""
    return score_portfolio(spark, sf_dir)


_RULES_VALUES = ",\n           ".join(
    f"('{a}', '{b}', '{t}', {thr}, {mag})" for a, b, t, thr, mag in C.SYNERGY_RULES
)


@register(
    "rule_synergy_scores",
    survey="M2,J7",
    oracle=f"""
WITH {_EV_SQL.lstrip()},
{_DS_SQL.lstrip()},
rules(dim_a, dim_b, synergy_type, threshold, magnitude) AS (
    VALUES {_RULES_VALUES}
),
j AS (
    SELECT a.company_id,
           CASE WHEN r.synergy_type = 'positive' AND a.score >= r.threshold
                     AND b.score >= r.threshold THEN r.magnitude
                WHEN r.synergy_type = 'negative' AND a.score >= r.threshold
                     AND b.score < r.threshold THEN r.magnitude
                ELSE 0.0 END AS contribution
    FROM rules r
    JOIN ds a ON a.dimension = r.dim_a
    JOIN ds b ON b.company_id = a.company_id AND b.dimension = r.dim_b
)
SELECT company_id,
       round(least(greatest(sum(contribution), -15.0), 15.0), 4) AS rule_synergy,
       CAST(sum(CASE WHEN contribution <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rules_fired
FROM j
GROUP BY company_id
""",
)
def rule_synergy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based synergy (reference app/scoring_engine/synergy.py:70-129):
    broadcast rules table joined twice against dimension scores."""
    ds = dimension_scores(spark, sf_dir).select("company_id", "dimension", "score")
    out = rule_synergy(ds, C.synergy_rules_df(ds.sparkSession))
    return out.select(
        "company_id",
        F.round("rule_synergy", 4).alias("rule_synergy"),
        F.col("n_rules_fired").cast("bigint").alias("n_rules_fired"),
    )


_DIM_PAIRS = list(combinations(C.DIMENSIONS, 2))
_PIVOT_SQL = ",\n           ".join(
    f"max(CASE WHEN dimension = '{d}' THEN score END) AS {d}" for d in C.DIMENSIONS
)
_CORR_SUM_SQL = " + ".join(f"coalesce(corr({a}, {b}), 0.0)" for a, b in _DIM_PAIRS)


@register(
    "sem_spearman_brown",
    survey="M16,A18,W5",
    oracle=f"""
WITH {_EV_SQL.lstrip()},
{_DS_SQL.lstrip()},
{_COMPANIES_SQL.lstrip()},
pivoted AS (
    SELECT company_id,
           {_PIVOT_SQL}
    FROM ds
    GROUP BY company_id
),
with_sector AS (
    SELECT p.*, c.sector
    FROM pivoted p JOIN comp c ON p.company_id = c.company_id
),
stats AS (
    SELECT sector,
           count(*) AS n_companies,
           ({_CORR_SUM_SQL}) / {len(_DIM_PAIRS)} AS r_avg,
           greatest(stddev_pop(
               (data_infrastructure + ai_governance + technology_stack + talent_skills
                + leadership_vision + use_case_portfolio + culture_change) / 7.0
           ), 1.0) AS sigma
    FROM with_sector
    GROUP BY sector
)
SELECT sector, n_companies,
       round(r_avg, 6) AS r_avg,
       round(sigma, 6) AS sigma,
       round((7.0 * r_clamped) / (1.0 + 6.0 * r_clamped), 6) AS rho,
       round(greatest(sigma * sqrt(1.0 - (7.0 * r_clamped) / (1.0 + 6.0 * r_clamped)), 0.5), 6)
           AS sem
FROM (SELECT *, least(greatest(r_avg, 0.0), 0.99) AS r_clamped FROM stats)
""",
)
def sem_spearman_brown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman-Brown SEM (reference app/scoring_engine/sem_confidence.py:316-383):
    per sector — σ of mean dimension scores (floor 1.0), average
    inter-dimension correlation r̄ over the 21 dimension pairs,
    ρ = 7r̄/(1+6r̄) with r̄ clamped [0, 0.99], SEM = σ·√(1−ρ) floored
    at 0.5.  Distributed `corr` aggregates replace np.corrcoef."""
    ds = dimension_scores(spark, sf_dir).select("company_id", "dimension", "score")
    pivoted = (
        ds.groupBy("company_id")
        .pivot("dimension", list(C.DIMENSIONS))
        .agg(F.max("score"))
    )
    from ..scoring.demo_domain import companies as companies_df

    comp = companies_df(spark, sf_dir).select("company_id", "sector")
    with_sector = pivoted.join(comp, "company_id")

    corr_sum = None
    for a, b in _DIM_PAIRS:
        c = F.coalesce(F.corr(a, b), F.lit(0.0))
        corr_sum = c if corr_sum is None else corr_sum + c
    mean_score = (
        sum([F.col(d) for d in C.DIMENSIONS[1:]], F.col(C.DIMENSIONS[0])) / 7.0
    )
    stats = with_sector.groupBy("sector").agg(
        F.count(F.lit(1)).alias("n_companies"),
        (corr_sum / len(_DIM_PAIRS)).alias("r_avg"),
        F.greatest(F.stddev_pop(mean_score), F.lit(1.0)).alias("sigma"),
    )
    r = clamp_sql("r_avg", 0.0, 0.99)
    rho = f"({r} * 7.0D / ({r} * 6.0D + 1.0D))"
    return stats.selectExpr(
        "sector",
        "n_companies",
        "round(r_avg, 6) AS r_avg",
        "round(sigma, 6) AS sigma",
        f"round({rho}, 6) AS rho",
        f"round(greatest(sigma * sqrt(1.0D - {rho}), 0.5D), 6) AS sem",
    )


_HR_BASE_CASE = """CASE c.sector
             WHEN 'Industrials' THEN 72.0
             WHEN 'Healthcare' THEN 78.0
             WHEN 'Services' THEN 75.0
             WHEN 'Consumer' THEN 70.0
             WHEN 'Financial' THEN 80.0
             ELSE 75.0 END"""


@register(
    "hr_position_stack",
    survey="M5,M7,M11,A2",
    oracle=f"""
WITH {_FLAGSHIP_CTES},
ord_cnt AS (
    SELECT o_custkey AS company_id, count(*) AS n_orders
    FROM orders GROUP BY o_custkey
),
port AS (
    SELECT avg(CAST(n_orders AS DOUBLE)) AS avg_orders FROM ord_cnt
),
savg AS (
    SELECT c.sector, avg(v.vr_score) AS sector_avg_vr
    FROM vrp v JOIN comp c ON v.company_id = c.company_id
    GROUP BY c.sector
),
m AS (
    SELECT v.company_id, c.sector, v.vr_score, c.position_factor,
           o.n_orders, p.avg_orders, s.sector_avg_vr,
           {_HR_BASE_CASE} AS hr_base,
           (c.position_factor + 1.0) / 2.0 AS mcap_pct
    FROM vrp v
    JOIN comp c ON v.company_id = c.company_id
    JOIN ord_cnt o ON v.company_id = o.company_id
    CROSS JOIN port p
    JOIN savg s ON s.sector = c.sector
),
calc AS (
    SELECT *,
           least(greatest(hr_base / 75.0, 0.7), 1.3) AS baseline_norm,
           CASE WHEN n_orders < 3 OR avg_orders = 0 THEN 1.0
                ELSE least(greatest(
                    1.0 + 0.5 * ((CAST(n_orders AS DOUBLE) / avg_orders) - 1.0)
                        / least(greatest(hr_base / 75.0, 0.7), 1.3),
                0.0), 2.0) END AS hr_factor,
           least(greatest(
               0.6 * least(greatest((vr_score - sector_avg_vr) / 50.0, -1.0), 1.0)
               + 0.4 * least(greatest((mcap_pct - 0.5) * 2.0, -1.0), 1.0),
           -1.0), 1.0) AS pf_model
    FROM m
)
SELECT company_id, sector, n_orders,
       round(hr_factor, 6) AS hr_factor,
       round(pf_model, 6) AS position_factor_model,
       round((1.0 - 0.2) * vr_score + 0.2 * sector_avg_vr, 6) AS vr_blended
FROM calc
""",
)
def hr_position_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 HR factor (jobs-intensity analog over order counts,
    reference app/scoring_engine/hr_baselines.py:102-191), M7 position
    factor (app/scoring/position_factor.py:7-29) against the computed
    sector-average VR, and M11 prior blending
    (run_scoring_engine.py:47-49) toward the sector mean."""
    from ..scoring.config import DEFAULT_HR_BASE, SECTOR_HR_BASE, dimension_case_sql
    from ..scoring.demo_domain import companies as companies_df
    from ..scoring.demo_domain import dimension_scores as ds_df
    from ..scoring.hr import position_factor_sql
    from ..scoring.vr import vr_scores
    from ..sources.catalog import load as _load

    vr = vr_scores(ds_df(spark, sf_dir)).select("company_id", "vr_score")
    comp = companies_df(spark, sf_dir)
    orders = _load(spark, sf_dir, "orders")
    ord_cnt = orders.groupBy(F.col("o_custkey").alias("company_id")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    port = ord_cnt.agg(F.avg(F.col("n_orders").cast("double")).alias("avg_orders"))
    savg = (
        vr.join(comp, "company_id")
        .groupBy("sector")
        .agg(F.avg("vr_score").alias("sector_avg_vr"))
    )
    m = (
        vr.join(comp, "company_id")
        .join(ord_cnt, "company_id")
        .crossJoin(F.broadcast(port))
        .join(F.broadcast(savg), "sector")
        .withColumn(
            "hr_base", F.expr(dimension_case_sql("sector", SECTOR_HR_BASE, DEFAULT_HR_BASE))
        )
        .withColumn("mcap_pct", (F.col("position_factor") + 1.0) / 2.0)
    )
    baseline_norm = clamp_sql("hr_base / 75.0D", 0.7, 1.3)
    intensity = clamp_sql(
        f"1.0D + (CAST(n_orders AS DOUBLE) / avg_orders - 1.0D) * 0.5D / {baseline_norm}", 0.0, 2.0
    )
    hr_factor = f"CASE WHEN n_orders < 3 OR avg_orders = 0 THEN 1.0D ELSE {intensity} END"
    pf = position_factor_sql("vr_score", "sector_avg_vr", "mcap_pct")
    return m.selectExpr(
        "company_id",
        "sector",
        "n_orders",
        f"round({hr_factor}, 6) AS hr_factor",
        f"round({pf}, 6) AS position_factor_model",
        # prior blending (1-w)·x + w·target, w = 0.2
        "round((1.0D - 0.2D) * vr_score + 0.2D * sector_avg_vr, 6) AS vr_blended",
    )


_DEMO_RANGES: tuple[tuple[str, float, float], ...] = (
    ("Industrials", 50.0, 75.0),
    ("Healthcare", 52.0, 78.0),
    ("Services", 50.0, 76.0),
    ("Consumer", 48.0, 74.0),
    ("Financial", 55.0, 80.0),
)
_RANGES_VALUES = ",\n           ".join(f"('{s}', {lo}, {hi})" for s, lo, hi in _DEMO_RANGES)


@register(
    "portfolio_range_validation",
    survey="M19",
    oracle=f"""
WITH {_FLAGSHIP_CTES},
ranges(sector, lo, hi) AS (
    VALUES {_RANGES_VALUES}
)
SELECT a.sector,
       count(*) AS n_companies,
       CAST(sum(CASE WHEN a.composite_score BETWEEN r.lo AND r.hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_range,
       CAST(sum(CASE WHEN a.composite_score < r.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(sum(CASE WHEN a.composite_score > r.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM agg a
JOIN ranges r ON a.sector = r.sector
GROUP BY a.sector
""",
)
def portfolio_range_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M19: golden-range validation (reference
    app/scoring_engine/portfolio_validation.py:10-51) — composite
    scores checked against per-sector expected bands via a broadcast
    ranges join + between()."""
    scores = score_portfolio(spark, sf_dir).select("company_id", "sector", "composite_score")
    ranges = F.broadcast(
        spark.createDataFrame(list(_DEMO_RANGES), "sector string, lo double, hi double")
    )
    j = scores.join(ranges, "sector")
    in_range = F.col("composite_score").between(F.col("lo"), F.col("hi"))
    return j.groupBy("sector").agg(
        F.count(F.lit(1)).alias("n_companies"),
        F.sum(in_range.cast("long")).cast("bigint").alias("n_in_range"),
        F.sum((F.col("composite_score") < F.col("lo")).cast("long")).cast("bigint").alias(
            "n_below"
        ),
        F.sum((F.col("composite_score") > F.col("hi")).cast("long")).cast("bigint").alias(
            "n_above"
        ),
    )


@register(
    "dimension_breakdown_json",
    survey="F8 (to-JSON side), \u00a73 step 10 breakdown assembly",
    oracle=f"""
WITH {_EV_SQL.lstrip()},
ds2 AS (
    -- 2dp score/confidence from EXACT integer sums: avg-then-round in
    -- doubles lands on .5 boundaries where engines' last-bit summation
    -- order differs; integer-sum/round is bit-stable in both engines
    SELECT company_id, dimension,
           round(sum(score_raw) * 100.0 / count(*)) / 100.0 AS score2,
           round(sum(round(conf_raw * 10)) * 10.0 / count(*)) / 100.0 AS conf2,
           count(*) AS evidence_count
    FROM ev
    GROUP BY company_id, dimension
),
entries AS (
    SELECT company_id, dimension,
           '{{"dimension":"' || dimension || '","score":' ||
           CAST(score2 AS VARCHAR) ||
           ',"confidence":' || CAST(conf2 AS VARCHAR) ||
           ',"evidence_count":' || CAST(evidence_count AS VARCHAR) || '}}' AS entry
    FROM ds2
)
SELECT company_id,
       '[' || string_agg(entry, ',' ORDER BY dimension) || ']'
           AS dimension_breakdown_json
FROM entries
GROUP BY company_id
""",
)
def dimension_breakdown_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nested per-company dimension_breakdown_json assembly
    (reference run_scoring_engine.py:468-530) as canonical string JSON
    (entries sorted by dimension) so the bytes are engine-agnostic.
    One rule with the audited run: `scoring/runlog.py::
    dimension_breakdown_rows` (2dp values from exact integer sums)
    feeds `dimension_breakdown`."""
    from ..scoring.demo_domain import evidence_rows
    from ..scoring.runlog import dimension_breakdown, dimension_breakdown_rows

    return dimension_breakdown(dimension_breakdown_rows(evidence_rows(spark, sf_dir)))
