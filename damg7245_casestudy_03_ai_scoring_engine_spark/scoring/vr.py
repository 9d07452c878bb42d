"""VR model — the confidence-floored weighted mean over dimension
scores (reference app/scoring_engine/vr_model.py:50-96) plus the CV
penalty (scripts/run_scoring_engine.py:37-44,328-329).

The reference computes this per company in a Python loop; here it is
one `groupBy('company_id')` aggregation — scoring N companies is the
same job as scoring one, and the aggregate is partial-aggregatable
(map-side combine) so it scales to any number of evidence rows.

Input schema (dimension_scores):
    company_id, dimension, score double [0,100],
    weight double [0,1] (nullable -> default per-dim weight),
    confidence double [0,1] (nullable -> 0)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import clamp_sql, conf_floor_sql
from .config import CONFIDENCE_FLOOR, DEFAULT_DIM_WEIGHTS
from .config import dimension_case_sql


def vr_scores(dimension_scores: DataFrame) -> DataFrame:
    """Per-company VR: Σ(score·w·conf_eff)/Σ(w·conf_eff), conf_eff =
    max(conf, 0.20), clamped [0,100]; CV penalty
    clamp(1−0.25·cv, 0, 1) where cv = stddev_pop/|mean| of the raw
    dimension scores.

    Returns: company_id, vr_raw, cv, cv_penalty, vr_score.
    """
    # Single-parse build (r13, guide §5/§7.3): the same named columns
    # and arithmetic as the former Column-chain construction, composed
    # as SQL fragments python-side — one parse per output column
    # instead of a py4j round trip per operator.
    ds = dimension_scores.selectExpr(
        "company_id",
        "dimension",
        "coalesce(score, 0.0D) AS score",
        "coalesce(weight, "
        f"{dimension_case_sql('dimension', DEFAULT_DIM_WEIGHTS)}) AS w",
        f"{conf_floor_sql('confidence', CONFIDENCE_FLOOR)} AS conf_eff",
    )
    vr_raw_sql = clamp_sql(
        "CASE WHEN sum(w * conf_eff) != 0 "
        "THEN sum(score * w * conf_eff) / sum(w * conf_eff) "
        "ELSE 0.0D END",
        0.0,
        100.0,
    )
    cv_sql = (
        "CASE WHEN abs(avg(score)) > 0 "
        "THEN stddev_pop(score) / abs(avg(score)) ELSE 0.0D END"
    )
    agg = ds.groupBy("company_id").agg(
        F.expr(vr_raw_sql).alias("vr_raw"), F.expr(cv_sql).alias("cv")
    )
    return agg.withColumns(
        {"cv_penalty": F.expr(clamp_sql("1.0D - 0.25D * cv", 0.0, 1.0))}
    ).withColumn(
        "vr_score", F.expr(clamp_sql("vr_raw * cv_penalty", 0.0, 100.0))
    )
