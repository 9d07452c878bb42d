"""Run orchestration + audit trail (SURVEY.md §3 steps 2/9/10).

The reference wraps every scoring run in a `scoring_runs` row, writes
per-stage `scoring_audit_log` entries with input/output JSON, and
persists a nested `dimension_breakdown_json` per company (reference
scripts/run_scoring_engine.py:133-154, 168-188, 468-530).

Spark shape: the run row and audit entries are small DataFrames
appended per stage (S16 append-only sink).  One evidence frame per
run — the flagship's persisted `company_evidence` — feeds the
`dimension_scoring` audit rows, the scoring DAG and the breakdown.
One breakdown rule, `dimension_breakdown_rows` (2dp values from exact
integer sums), is shared with the registry query
`dimension_breakdown_json`, so the audit rows and the JSON do not
depend on the degree of parallelism.  Determinism rules from SURVEY
§7: run ids are content hashes, not uuid4; a single run timestamp is
stamped by the caller, never per-row wall clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .demo_domain import companies
from .pipeline import company_evidence, score_evidence


def run_id_for(tickers: list[str], model_version: str, run_ts: str) -> str:
    """Deterministic run id — sha256 of the natural key (reference
    uses uuid4, run_scoring_engine.py:122,133; hash-derived ids make
    reruns reproducible, SURVEY §7)."""
    import hashlib

    key = f"{model_version}|{run_ts}|{','.join(sorted(tickers))}"
    return hashlib.sha256(key.encode()).hexdigest()[:32]


def scoring_run_row(
    spark: SparkSession,
    run_id: str,
    tickers: list[str],
    model_version: str,
    run_ts: str,
    status: str = "running",
) -> DataFrame:
    """The `scoring_runs` row (schema.sql:162-170 shape)."""
    return spark.createDataFrame(
        [
            (
                run_id,
                run_ts,
                ",".join(sorted(tickers)),
                model_version,
                status,
            )
        ],
        "run_id string, run_timestamp string, companies_scored string, "
        "model_version string, status string",
    )


def audit_entries(
    stage_output: DataFrame, run_id: str, step_name: str, key_col: str = "company_id"
) -> DataFrame:
    """Per-stage audit rows: (run_id, step_name, company_id,
    output_json) — the columnar form of the reference's per-step
    audit inserts (run_scoring_engine.py:302-323 etc.).  output_json
    is `to_json(struct(*))` of the stage's row, so the audit carries
    the full stage output without a fixed schema."""
    payload = F.to_json(F.struct(*[F.col(c) for c in stage_output.columns]))
    return stage_output.select(
        F.lit(run_id).alias("scoring_run_id"),
        F.lit(step_name).alias("step_name"),
        F.col(key_col).alias("company_id"),
        payload.alias("output_json"),
    )


def append_audit(entries: DataFrame, path: str) -> None:
    """S16 append-only sink for the audit table: one parquet file per
    append, whatever the partition count of the stage output.  The
    single-partition exchange sits after the stage's own aggregate, so
    that aggregate keeps all its tasks (`coalesce(1)` would pull it
    into the one writing task)."""
    entries.repartition(1).write.mode("append").parquet(path)


def dimension_breakdown_rows(ev: DataFrame) -> DataFrame:
    """Per (company, dimension) over evidence rows: score, confidence
    (2dp) and evidence_count — the `dimension_scoring` audit payload
    and the breakdown's entries.  The 2dp values derive from EXACT
    integer sums (score_raw is integral, conf_raw is tenths), not
    round(avg(..)): an avg in doubles lands on .5 boundaries where the
    last bit depends on summation order, which varies with the engine
    and with the number of partitions."""
    n = F.count(F.lit(1))
    return ev.groupBy("company_id", "dimension").agg(
        (F.round(F.sum("score_raw") * 100.0 / n) / 100.0).alias("score"),
        (F.round(F.sum(F.round(F.col("conf_raw") * 10)) * 10.0 / n) / 100.0).alias(
            "confidence"
        ),
        n.alias("evidence_count"),
    )


def dimension_breakdown(rows: DataFrame) -> DataFrame:
    """Per company: canonical JSON array of per-dimension entries —
    the `dimension_breakdown_json` shape (run_scoring_engine.py:
    468-530).  Assembled with explicit string concat (not to_json) so
    the byte output is engine-agnostic and oracle-checkable: entries
    sorted by dimension.

    Input: `dimension_breakdown_rows` (company_id, dimension, score,
    confidence, evidence_count); score and confidence are already 2dp.
    """
    entry = F.concat(
        F.lit('{"dimension":"'),
        F.col("dimension"),
        F.lit('","score":'),
        F.col("score").cast("string"),
        F.lit(',"confidence":'),
        F.col("confidence").cast("string"),
        F.lit(',"evidence_count":'),
        F.col("evidence_count").cast("string"),
        F.lit("}"),
    )
    per_dim = rows.select("company_id", F.col("dimension"), entry.alias("entry"))
    return (
        per_dim.groupBy("company_id")
        .agg(F.array_sort(F.collect_list(F.struct("dimension", "entry"))).alias("es"))
        .select(
            "company_id",
            F.concat(
                F.lit("["),
                F.concat_ws(",", F.transform("es", lambda e: e["entry"])),
                F.lit("]"),
            ).alias("dimension_breakdown_json"),
        )
    )


def score_portfolio_with_audit(
    spark: SparkSession,
    sf_dir: str,
    audit_path: str,
    model_version: str = "v1.0-spark",
    run_ts: str = "1970-01-01T00:00:00Z",
) -> tuple[str, DataFrame]:
    """Full run: scoring_runs row + per-stage audit appends + final
    scores with breakdown JSON.  Returns (run_id, scores_df); the
    audit table lands at `audit_path`."""
    run_id = run_id_for(["PORTFOLIO"], model_version, run_ts)
    run_row = scoring_run_row(
        spark, run_id, ["PORTFOLIO"], model_version, run_ts
    )
    run_row.write.mode("append").parquet(f"{audit_path}/scoring_runs")

    ev = company_evidence(spark, sf_dir)
    dims = dimension_breakdown_rows(ev)
    append_audit(
        audit_entries(dims, run_id, "dimension_scoring"), f"{audit_path}/audit_log"
    )

    scores = score_evidence(ev, companies(spark, sf_dir))
    append_audit(
        audit_entries(scores, run_id, "final_write"), f"{audit_path}/audit_log"
    )

    final = scores.join(dimension_breakdown(dims), "company_id", "left").withColumn(
        "scoring_run_id", F.lit(run_id)
    )
    return run_id, final
