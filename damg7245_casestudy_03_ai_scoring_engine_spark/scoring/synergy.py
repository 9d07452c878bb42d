"""Synergy — rule-based (explainability) and formula (composite input).

Reference semantics:
- Rule synergy (app/scoring_engine/synergy.py:70-129): for each
  configured rule, a positive rule fires iff BOTH dimension scores ≥
  threshold (+magnitude); a negative rule fires iff dim_a ≥ threshold
  AND dim_b < threshold (+negative magnitude).  Total clamped ±15.
- Formula synergy (synergy.py:132-156):
  Synergy = (VR·HR/100) · Alignment · Timing, Alignment
  1−|VR−HR|/100 clamped [0,1], Timing clamped [0.8,1.2], result
  clamped [0,100].

Spark shape: the rules table is broadcast and joined twice against the
per-(company, dimension) scores — no per-company loop, one shuffle on
company_id for the final sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import clamp_sql, flit
from .config import RULE_SYNERGY_CAP


def rule_synergy(dimension_scores: DataFrame, rules: DataFrame) -> DataFrame:
    """Per-company rule synergy total, clamped ±15.

    dimension_scores: company_id, dimension, score
    rules: dim_a, dim_b, synergy_type, threshold, magnitude
    Returns: company_id, rule_synergy (double), n_rules_fired (long)
    """
    a = dimension_scores.select(
        "company_id", F.col("dimension").alias("dim_a"), F.col("score").alias("score_a")
    )
    b = dimension_scores.select(
        F.col("company_id").alias("company_id_b"),
        F.col("dimension").alias("dim_b"),
        F.col("score").alias("score_b"),
    )
    r = F.broadcast(rules)
    joined = (
        r.join(a, "dim_a")
        .join(
            b.withColumnRenamed("dim_b", "dim_b_score"),
            (F.col("company_id") == F.col("company_id_b"))
            & (F.col("dim_b") == F.col("dim_b_score")),
        )
        .drop("company_id_b", "dim_b_score")
    )
    fired: Column = (
        F.when(
            (F.col("synergy_type") == "positive")
            & (F.col("score_a") >= F.col("threshold"))
            & (F.col("score_b") >= F.col("threshold")),
            F.col("magnitude"),
        )
        .when(
            (F.col("synergy_type") == "negative")
            & (F.col("score_a") >= F.col("threshold"))
            & (F.col("score_b") < F.col("threshold")),
            F.col("magnitude"),
        )
        .otherwise(F.lit(0.0))
    )
    return (
        joined.withColumn("contribution", fired)
        .groupBy("company_id")
        .agg(
            F.expr(clamp_sql("sum(contribution)", -RULE_SYNERGY_CAP, RULE_SYNERGY_CAP)).alias(
                "rule_synergy"
            ),
            F.sum((fired != 0).cast("long")).alias("n_rules_fired"),
        )
    )


def formula_synergy_sql(vr: str, hr: str, timing: float = 1.0) -> str:
    """Formula synergy fragment: (VR·HR/100)·Alignment·Timing with
    Alignment = clamp(1−|VR−HR|/100, 0, 1) and the reference clamps
    (synergy.py:132-156)."""
    align = clamp_sql(f"1.0D - abs({vr} - {hr}) / 100.0D", 0.0, 1.0)
    t = clamp_sql(flit(float(timing)), 0.8, 1.2)
    return clamp_sql(f"(({vr} * {hr} / 100.0D) * {align}) * {t}", 0.0, 100.0)
