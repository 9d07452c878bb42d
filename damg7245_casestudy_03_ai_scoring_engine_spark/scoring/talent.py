"""Talent concentration / HHI penalty stack.

Reference semantics:
- HHI (app/scoring_engine/talent_penalty.py:126-140): counts by job
  function → shares → Σ share².
- HHI penalty tiering (talent_penalty.py:143-188): with n ≥
  min_sample_size (15): factor 0.85 if HHI ≥ 0.70, 0.95 if ≥ 0.40,
  else 1.0; below min sample → 1.0.
- Talent concentration TC (app/scoring/talent_concentration.py:18-45):
  0.4·leadership_ratio + 0.3·min(1, 1/(√n+0.1)) + 0.2·max(0,
  1−|skills|/15) + 0.1·individual_factor, clamped [0,1].
- Talent risk adjustment (talent_concentration.py:93-100):
  1 − 0.15·max(0, TC−0.25), clamped [0,1].

HHI uses a window share so the whole stack is two shuffles (group
count + company rollup) regardless of row count; the per-row formulas
are SQL fragments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import clamp_sql, flit
from .config import TALENT_PENALTY_CONFIG


def hhi(items: DataFrame, key: str = "company_id", category: str = "job_function") -> DataFrame:
    """Per-key Herfindahl index over category shares.

    Returns: <key>, hhi double, n_items long.
    """
    counts = items.groupBy(key, category).agg(F.count(F.lit(1)).alias("cnt"))
    return hhi_from_counts(counts, key)


def hhi_from_counts(
    counts: DataFrame, key: str = "company_id", count_col: str = "cnt"
) -> DataFrame:
    """HHI from PRE-AGGREGATED (key, category) counts — the mergeable
    form the incremental pipeline maintains (category identity is
    already folded into the count rows).  Same output contract as
    `hhi`: <key>, hhi double, n_items long.

    Share and Σshare² are one selectExpr parse and one aggregate.  The
    key is backtick-quoted (the asof.py discipline) so a
    non-identifier column name (spaces, reserved words) cannot
    misparse."""
    return (
        counts.selectExpr(
            "*",
            f"CAST({count_col} AS DOUBLE) / sum({count_col}) OVER "
            f"(PARTITION BY `{key}`) AS share",
        )
        .groupBy(key)
        .agg(
            F.expr("sum(pow(share, 2))").alias("hhi"),
            F.expr(f"sum({count_col})").alias("n_items"),
        )
    )


def hhi_penalty_factor_sql(hhi_col: str, n_col: str) -> str:
    cfg = TALENT_PENALTY_CONFIG
    return (
        f"CASE WHEN {n_col} < {cfg['min_sample_size']} THEN 1.0D "
        f"WHEN {hhi_col} >= {flit(cfg['hhi_threshold_severe'])} "
        f"THEN {flit(cfg['penalty_factor_severe'])} "
        f"WHEN {hhi_col} >= {flit(cfg['hhi_threshold_mild'])} "
        f"THEN {flit(cfg['penalty_factor_mild'])} "
        "ELSE 1.0D END"
    )


def talent_concentration_sql(
    leadership_ratio: str,
    n_postings: str,
    n_skills: str,
    individual_factor: str,
) -> str:
    """TC formula (app/scoring/talent_concentration.py:18-45)."""
    team = f"least(1.0D, 1.0D / (sqrt(CAST({n_postings} AS DOUBLE)) + 0.1D))"
    skills = f"greatest(0.0D, 1.0D - CAST({n_skills} AS DOUBLE) / 15.0D)"
    return clamp_sql(
        f"0.4D * {leadership_ratio} + 0.3D * {team}"
        f" + 0.2D * {skills} + 0.1D * {individual_factor}",
        0.0,
        1.0,
    )


def talent_risk_adjustment_sql(tc: str) -> str:
    """1 − 0.15·max(0, TC−0.25) clamped [0,1]
    (talent_concentration.py:93-100)."""
    return clamp_sql(f"1.0D - 0.15D * greatest(0.0D, {tc} - 0.25D)", 0.0, 1.0)
