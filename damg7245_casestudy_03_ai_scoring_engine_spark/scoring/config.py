"""Scoring configuration seeds — the engine's broadcast config tables.

Values mirror the reference's seeded configuration so parity tests can
pin closed-form outputs:
- 7-dimension canon + default weights: reference
  app/scoring_engine/evidence_mapper.py:11-19, app/models/dimension.py:16-24
- sector baselines (5 sectors × hr_base): reference
  app/database/schema.sql:109-120, scripts/seed_scoring_config.py:21-49
- synergy rules: scripts/seed_scoring_config.py:50-56
- talent penalty config: scripts/seed_scoring_config.py:57-63
- composite weights α=0.60 β=0.12: scripts/run_scoring_engine.py:444-450
- portfolio priors + golden ranges:
  app/scoring_engine/portfolio_priors.py:15-21,
  app/scoring_engine/portfolio_validation.py:10-16

Config tables are tiny by design (≤35 rows) → always broadcast; on a
real deployment they'd live in Delta tables versioned by `version`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.core import flit

DIMENSIONS: tuple[str, ...] = (
    "data_infrastructure",
    "ai_governance",
    "technology_stack",
    "talent_skills",
    "leadership_vision",
    "use_case_portfolio",
    "culture_change",
)

# Default per-dimension weights (models/dimension.py:16-24).
DEFAULT_DIM_WEIGHTS: dict[str, float] = {
    "data_infrastructure": 0.25,
    "ai_governance": 0.20,
    "technology_stack": 0.15,
    "talent_skills": 0.15,
    "leadership_vision": 0.10,
    "use_case_portfolio": 0.10,
    "culture_change": 0.05,
}

# sector -> hr_base (schema.sql:111-115 seed).
SECTOR_HR_BASE: dict[str, float] = {
    "Industrials": 72.0,
    "Healthcare": 78.0,
    "Services": 75.0,
    "Consumer": 70.0,
    "Financial": 80.0,
}
DEFAULT_HR_BASE = 75.0

# (dim_a, dim_b, synergy_type, threshold, magnitude) — seed_scoring_config.py:50-56.
SYNERGY_RULES: tuple[tuple[str, str, str, float, float], ...] = (
    ("data_infrastructure", "technology_stack", "positive", 60.0, 3.0),
    ("ai_governance", "culture_change", "positive", 60.0, 3.0),
    ("leadership_vision", "use_case_portfolio", "positive", 60.0, 2.5),
    ("talent_skills", "use_case_portfolio", "positive", 60.0, 2.5),
    ("use_case_portfolio", "ai_governance", "negative", 60.0, -3.0),
)
RULE_SYNERGY_CAP = 15.0  # ±15 clamp (synergy.py:70-75)

# talent_penalty_config seed (seed_scoring_config.py:57-63).
TALENT_PENALTY_CONFIG = {
    "hhi_threshold_mild": 0.40,
    "hhi_threshold_severe": 0.70,
    "penalty_factor_mild": 0.95,
    "penalty_factor_severe": 0.85,
    "min_sample_size": 15,
}

# Composite weights (run_scoring_engine.py:444-450).
COMPOSITE_ALPHA = 0.60
COMPOSITE_BETA = 0.12

CONFIDENCE_FLOOR = 0.20  # vr_model.py:58-61

# ticker -> (vr_target, pf_target, tc_target, market_cap_percentile)
PORTFOLIO_PRIORS: dict[str, tuple[float, float, float, float]] = {
    "NVDA": (95.0, 0.90, 0.12, 0.95),
    "JPM": (70.0, 0.50, 0.18, 0.75),
    "WMT": (55.0, 0.30, 0.20, 0.65),
    "GE": (40.0, 0.00, 0.25, 0.50),
    "DG": (25.0, -0.30, 0.30, 0.35),
}

# ticker -> (lo, hi) golden composite ranges (portfolio_validation.py:10-16).
GOLDEN_RANGES: dict[str, tuple[float, float]] = {
    "NVDA": (84.0, 94.0),
    "JPM": (66.0, 76.0),
    "WMT": (55.0, 66.0),
    "GE": (45.0, 55.0),
    "DG": (34.0, 45.0),
}

# Keyword taxonomy per dimension (evidence_mapper.py:247-276 shape; the
# exact keyword lists matter for parity of the featurizer tests).
DIMENSION_KEYWORDS: dict[str, tuple[str, ...]] = {
    "data_infrastructure": ("data platform", "data lake", "data warehouse", "pipeline", "etl", "data quality", "data governance"),
    "ai_governance": ("ai governance", "responsible ai", "model risk", "ai policy", "compliance", "audit", "oversight"),
    "technology_stack": ("cloud", "api", "machine learning", "ml platform", "gpu", "kubernetes", "infrastructure"),
    "talent_skills": ("data scientist", "ml engineer", "ai talent", "upskilling", "training program", "hiring"),
    "leadership_vision": ("strategy", "roadmap", "executive", "chief data", "vision", "transformation"),
    "use_case_portfolio": ("use case", "production", "deployment", "pilot", "automation", "personalization"),
    "culture_change": ("culture", "innovation", "experimentation", "collaboration", "change management", "adoption"),
}

# Source profiles: source -> (reliability, {dim: weight}) (mapping_config.py:28-116).
SOURCE_PROFILES: dict[str, tuple[float, dict[str, float]]] = {
    "technology_hiring": (0.85, {"talent_skills": 0.6, "technology_stack": 0.4}),
    "innovation_activity": (0.80, {"use_case_portfolio": 0.6, "technology_stack": 0.4}),
    "digital_presence": (0.70, {"technology_stack": 0.5, "data_infrastructure": 0.5}),
    "leadership_signals": (0.80, {"leadership_vision": 0.7, "culture_change": 0.3}),
    "sec_item_1": (0.90, {"use_case_portfolio": 0.4, "leadership_vision": 0.3, "technology_stack": 0.3}),
    "sec_item_1a": (0.90, {"ai_governance": 0.6, "data_infrastructure": 0.4}),
    "sec_item_7": (0.90, {"leadership_vision": 0.4, "use_case_portfolio": 0.3, "data_infrastructure": 0.3}),
    "glassdoor_reviews": (0.75, {"culture_change": 0.6, "talent_skills": 0.4}),
    "board_composition": (0.90, {"ai_governance": 0.6, "leadership_vision": 0.4}),
}
SOURCE_ALIASES: dict[str, str] = {
    "jobs": "technology_hiring",
    "patents": "innovation_activity",
    "tech": "digital_presence",
    "news": "leadership_signals",
    "10k": "sec_item_1",
}


def dim_weights_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(d, w) for d, w in DEFAULT_DIM_WEIGHTS.items()], "dimension string, weight double"
    )


def sector_baselines_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(s, hb) for s, hb in SECTOR_HR_BASE.items()], "sector string, hr_base double"
    )


def synergy_rules_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(SYNERGY_RULES),
        "dim_a string, dim_b string, synergy_type string, threshold double, magnitude double",
    )


def priors_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(t, *v) for t, v in PORTFOLIO_PRIORS.items()],
        "ticker string, vr_target double, pf_target double, tc_target double, mcap_pct double",
    )


def keywords_df(spark: SparkSession) -> DataFrame:
    """(dimension, keyword) rows — broadcast side of the taxonomy join
    (reference evidence_mapper.py:283-299)."""
    rows = [(d, kw) for d, kws in DIMENSION_KEYWORDS.items() for kw in kws]
    return spark.createDataFrame(rows, "dimension string, keyword string")


def source_profiles_df(spark: SparkSession) -> DataFrame:
    """(source, reliability, dimension, dim_weight) exploded profile
    rows, aliases resolved (mapping_config.py:28-116)."""
    rows = []
    for src, (rel, weights) in SOURCE_PROFILES.items():
        for dim, w in weights.items():
            rows.append((src, rel, dim, w))
    for alias, canon in SOURCE_ALIASES.items():
        rel, weights = SOURCE_PROFILES[canon]
        for dim, w in weights.items():
            rows.append((alias, rel, dim, w))
    return spark.createDataFrame(
        rows, "source string, reliability double, dimension string, dim_weight double"
    )


def dimension_case_sql(col_name: str, mapping: dict[str, float], default: float = 0.0) -> str:
    """CASE fragment mapping a name column to constants (dimension →
    weight, sector → hr_base), else `default` — one parse, where a
    `when` chain costs a py4j round trip per link."""
    arms = " ".join(
        f"WHEN {col_name} = '{d}' THEN {flit(v)}" for d, v in mapping.items()
    )
    return f"CASE {arms} ELSE {flit(default)} END"
