"""Self-referential SEM over a versioned scores table — the SURVEY §7
risk-register answer to the reference's feedback loop.

The reference trains SEM confidence on PRIOR runs' org_air_scores
(sem_confidence.py:278-297: recent ≤50 scored rows in the same model
family, excluding the company being scored; ±5 fallback band below 3
training rows, sem_confidence.py:331-333) while the SAME run inserts
new rows into that table — on a plain table a run could read its own
output.  Here every run pins the PRE-RUN snapshot version of the
scores table, trains only on it, and appends its own rows as a new
version: the feedback loop is structurally impossible, and any past
run's training basis is reproducible via time travel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import topk_ranked
from ..sources.versioned import VersionedTable
from .pipeline import score_portfolio

SEM_TRAINING_CAP = 50  # LIMIT 50 (sem_confidence.py:278-297)
SEM_MIN_TRAINING = 3  # fallback threshold (sem_confidence.py:331-333)
SEM_FALLBACK_BAND = 5.0  # ±5 band when history is thin
Z95 = 1.96


def sem_from_history(history: DataFrame, scores: DataFrame) -> DataFrame:
    """Per-company SEM/CI from a PINNED history snapshot.

    Training rows for company X = the most recent ≤50 historic rows of
    OTHER companies (reference's `company_id != X ORDER BY scored_at
    DESC LIMIT 50`), σ = stddev_pop of their composites floored at
    1.0, CI = composite ± 1.96·σ clamped [0,100]; below 3 training
    rows the reference's ±5 fallback band applies.

    Spark shape: the global recent block is CAP+1 rows — enough that
    after excluding any single company's rows... is NOT generally
    true, so the per-company exclusion joins the recent block (tiny,
    broadcast) against the scored companies and re-ranks per company:
    shuffle volume is |companies|·(CAP+own rows), not |history|².
    """
    # every row that could be in ANY company's top-50-excluding-self
    # is within the global top (CAP + max rows of one company); rather
    # than bound that, keep CAP + the largest per-company count — for
    # portfolio-sized score tables this block is tiny either way.
    max_per_company = (
        history.groupBy("company_id").count().agg(F.max("count")).collect()[0][0] or 0
    )
    block = F.broadcast(
        topk_ranked(
            history,
            "ORDER BY scored_at DESC, company_id DESC",
            SEM_TRAINING_CAP + max_per_company,
        ).select(
            F.col("company_id").alias("h_company_id"),
            F.col("composite_score").alias("h_composite"),
            "scored_at",
        )
    )
    per_company = topk_ranked(
        scores.select("company_id").distinct()
        .join(block, F.col("company_id") != F.col("h_company_id")),
        "PARTITION BY company_id ORDER BY scored_at DESC, h_company_id DESC",
        SEM_TRAINING_CAP,
    )
    return per_company.groupBy("company_id").agg(
        F.count(F.lit(1)).alias("n_training"),
        F.greatest(F.stddev_pop("h_composite"), F.lit(1.0)).alias("sem_sigma"),
    )


def run_scoring_with_sem(
    spark: SparkSession, sf_dir: str, table: VersionedTable, run_id: int
) -> tuple[int, DataFrame]:
    """One scoring run: pin the pre-run snapshot, score, attach SEM CI
    trained ONLY on that snapshot, append as a new version.  Returns
    (committed version, the run's rows).  `run_id` doubles as the
    deterministic `scored_at` stamp (no wall clock — re-runs are
    bit-reproducible)."""
    pre_version = table.latest_version()  # pinned BEFORE any write
    scores = score_portfolio(spark, sf_dir).select(
        "company_id",
        "composite_score",
        F.lit(run_id).cast("long").alias("scored_at"),
    )
    if pre_version >= 0:
        sem = sem_from_history(table.read(spark, pre_version), scores)
        scored = scores.join(sem, "company_id", "left")
    else:
        scored = scores.withColumn("n_training", F.lit(0).cast("long")).withColumn(
            "sem_sigma", F.lit(None).cast("double")
        )
    thin = F.col("n_training").isNull() | (F.col("n_training") < SEM_MIN_TRAINING)
    half = F.when(thin, F.lit(SEM_FALLBACK_BAND)).otherwise(Z95 * F.col("sem_sigma"))
    out = scored.select(
        "company_id",
        "composite_score",
        "scored_at",
        F.coalesce("n_training", F.lit(0)).alias("n_training"),
        F.round(F.greatest(F.col("composite_score") - half, F.lit(0.0)), 4).alias("ci_low"),
        F.round(F.least(F.col("composite_score") + half, F.lit(100.0)), 4).alias("ci_high"),
    )
    version = table.write(out, mode="append")
    return version, out
