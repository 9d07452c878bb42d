"""The flagship scoring DAG — per-company Org-AI-R composite from raw
evidence in a single DataFrame plan (reference pipeline
scripts/run_scoring_engine.py:286-554, steps traced in SURVEY.md §3.1).

Where the reference loops companies serially and round-trips Snowflake
per step, this is one declarative plan: Catalyst fuses the stages,
reuses the company_id partitioning across VR/HHI/composite, and
broadcasts every config table.  Scoring 10 companies or 10 million is
the same code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cache import tracked_persist
from ..functions.core import clamp_sql, round_stable_sql, score_band_sql
from .composite import composite_sql
from .config import DEFAULT_HR_BASE, SECTOR_HR_BASE, dimension_case_sql
from .demo_domain import companies, dimension_scores_from, evidence_rows
from .hr import hr_score_sql
from .synergy import formula_synergy_sql
from .talent import hhi, hhi_penalty_factor_sql
from .vr import vr_scores


def score_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: evidence → dimension scores → VR (+CV penalty,
    HHI penalty) → HR → formula synergy → composite + band.

    Returns one row per company:
      company_id, sector, vr_score, hr_score, synergy_score,
      composite_score, score_band, hhi, hhi_factor, n_items
    (floats rounded 4dp; hhi 6dp).
    """
    comp = companies(spark, sf_dir)
    return score_evidence(company_evidence(spark, sf_dir), comp)


def company_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The run's one evidence frame: lineitem⋈orders evidence rows,
    persisted partitioned by company_id."""
    # One evidence join feeds BOTH the dimension-score aggregate and
    # the supplier HHI — persist it instead of re-running the
    # lineitem⋈orders join per consumer (at scale: the silver
    # evidence table written once per run).  Persist it PARTITIONED BY
    # company_id: hash(company_id) satisfies the clustered distribution
    # of every downstream grain — groupBy(company_id, dimension),
    # groupBy(company_id, supp_key), the HHI share window, and the
    # company_id groupBys/joins above them — so the whole post-evidence
    # DAG runs shuffle-free (one exchange here replaces four after the
    # persist; plan-pinned in tests/test_plans.py).
    return tracked_persist(
        evidence_rows(spark, sf_dir).repartition("company_id"),
        "org_air_flagship.evidence",
    )


def score_evidence(ev: DataFrame, comp: DataFrame) -> DataFrame:
    """The scoring DAG over a `company_evidence` frame and
    `companies`: dimension scores → VR, supplier HHI → composite."""
    ds = dimension_scores_from(ev)

    vr = vr_scores(ds)  # company_id, vr_raw, cv, cv_penalty, vr_score(=raw·pen)

    supplier_hhi = hhi(
        ev.select("company_id", "supp_key"),
        key="company_id",
        category="supp_key",
    )
    return assemble_composite(vr, supplier_hhi, comp)


def assemble_composite(
    vr: DataFrame, supplier_hhi: DataFrame, comp: DataFrame
) -> DataFrame:
    """Post-VR assembly shared by the batch flagship and the
    incremental (partials-fed) path: HHI penalty → HR → synergy →
    composite + band.  Inputs: vr_scores output, hhi output
    (company_id, hhi, n_items), companies (company_id, sector,
    position_factor)."""
    # withColumns batches of single-parse expressions (r13, guide §5
    # driver / §7.3 planning): every classic-API DataFrame op eagerly
    # re-analyzes its whole subtree JVM-side and every Column operator
    # is a py4j round trip, so the former 7-op withColumn chain of
    # Column ladders paid 7 analyzer walks plus ~100 round trips;
    # grouped into dependency levels with each column ONE F.expr parse
    # (the formula fragments), same named columns, same arithmetic.
    # Joins unchanged (inner, company_id) — comp's columns don't
    # collide with the vr⋈hhi set.
    scored = (
        vr.join(supplier_hhi, "company_id")
        .join(comp, "company_id")
        .withColumns(
            {
                "hhi_factor": F.expr(hhi_penalty_factor_sql("hhi", "n_items")),
                "hr_base": F.expr(
                    dimension_case_sql("sector", SECTOR_HR_BASE, DEFAULT_HR_BASE)
                ),
            }
        )
        .withColumns(
            {
                "vr_final": F.expr(
                    clamp_sql("vr_score * hhi_factor", 0.0, 100.0)
                ),
                "hr_final": F.expr(hr_score_sql("hr_base", "position_factor")),
            }
        )
        .withColumn("syn_final", F.expr(formula_synergy_sql("vr_final", "hr_final")))
        .withColumn(
            "composite_score",
            F.expr(
                round_stable_sql(
                    composite_sql("vr_final", "hr_final", "syn_final"), 4
                )
            ),
        )
    )
    out = scored.selectExpr(
        "company_id",
        "sector",
        f"{round_stable_sql('vr_final', 4)} AS vr_score",
        f"{round_stable_sql('hr_final', 4)} AS hr_score",
        f"{round_stable_sql('syn_final', 4)} AS synergy_score",
        "composite_score",
        f"{score_band_sql('composite_score')} AS score_band",
        f"{round_stable_sql('hhi', 6)} AS hhi",
        "hhi_factor",
        "n_items",
    )
    return out
