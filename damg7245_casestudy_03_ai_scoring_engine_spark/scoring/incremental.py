"""Incremental flagship scoring — the streaming twin of
`score_portfolio`.

The batch flagship aggregates ALL evidence per run.  This module
maintains ONE mergeable partials table those aggregates decompose
into, so a micro-batch of new evidence updates the portfolio scores
without rescanning history.  The table holds two grains, told apart
by which key is NULL:

- dimension rows: (company_id, dimension) → (sum_score, sum_conf, n),
  supp_key NULL — dimension score = sum_score/n, confidence =
  sum_conf/n.
- supplier rows: (company_id, supp_key) → n, dimension, sum_score
  and sum_conf NULL — the HHI input.

Both grains come from one grouping-sets aggregate of the evidence, so
a micro-batch costs one evidence pass, one merge and one commit.
`dimension` is a CASE with an ELSE, so it is never NULL on a
dimension row, and `dimension IS NULL` selects exactly the supplier
rows.

Every downstream stage (VR, CV penalty, HHI penalty, HR, synergy,
composite) is a pure function of those aggregates, so serving reads
derive the EXACT batch result from the gold partials — proven in
tests/test_incremental_scoring.py against `score_portfolio` on the
same data.

This is the §7 risk-register answer to the reference's score-time
side effects (run_scoring_engine.py:689-750): ingestion merges
partials; scoring is a read-only view over them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..streaming.jobs import _merge_parquet_gold
from .demo_domain import EVIDENCE_COLUMNS, companies
from .pipeline import assemble_composite
from .talent import hhi_from_counts
from .vr import vr_scores

PARTIALS = "partials"

# The one layout of the partials frame and of the gold table it merges
# into: reads declare it, so neither merging nor serving infers a schema.
PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("company_id", T.LongType()),
        T.StructField("dimension", T.StringType()),
        T.StructField("supp_key", T.LongType()),
        T.StructField("sum_score", T.DoubleType()),
        T.StructField("sum_conf", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def evidence_partials(ev: DataFrame) -> DataFrame:
    """Decompose an evidence frame into the mergeable partials: one
    grouping-sets aggregate yields the dimension rows and the supplier
    rows, the sums NULL on supplier rows."""
    dim_only = "IF(grouping(supp_key) = 0, NULL, sum({}))"
    return (
        ev.groupingSets(
            [["company_id", "dimension"], ["company_id", "supp_key"]],
            "company_id",
            "dimension",
            "supp_key",
        )
        .agg(
            F.expr(dim_only.format("score_raw")).alias("sum_score"),
            F.expr(dim_only.format("conf_raw")).alias("sum_conf"),
            F.count(F.lit(1)).alias("n"),
        )
        .to(PARTIALS_SCHEMA)
    )


def merge_partials(gold_dir: str):
    """foreachBatch body: merge one micro-batch's evidence partials
    into the gold partials table (same union+groupBy pattern as the
    incremental window rollup; MERGE on Delta).

    The table commits through the shared gold-merge protocol,
    `streaming.jobs._merge_parquet_gold`: replay-idempotent (a batch
    id at or below the table's committed `_last_batch_id` marker is
    skipped) and crash-atomic (detach-promote-reap, with a detached
    generation restored on the next upsert).  Keys lead with
    `supp_key` so each sorted generation stores the dimension rows
    (supp_key NULL) and the supplier rows as two runs."""
    merge = _merge_parquet_gold(
        f"{gold_dir}/{PARTIALS}",
        ["supp_key", "company_id", "dimension"],
        ["sum_score", "sum_conf", "n"],
    )

    def upsert(ev_batch: DataFrame, batch_id: int) -> None:
        merge(evidence_partials(ev_batch), batch_id)

    return upsert


def score_from_partials(
    spark: SparkSession, sf_dir: str, gold_dir: str
) -> DataFrame:
    """Serving view: the full Org-AI-R composite derived from the gold
    partials table — identical math to `score_portfolio`, zero
    history rescans."""
    parts = spark.read.schema(PARTIALS_SCHEMA).parquet(f"{gold_dir}/{PARTIALS}")
    ds = parts.where("dimension IS NOT NULL").selectExpr(
        "company_id",
        "dimension",
        "sum_score / n AS score",
        "CAST(NULL AS DOUBLE) AS weight",
        "sum_conf / n AS confidence",
        "n AS evidence_count",
    )
    vr = vr_scores(ds)
    supplier_hhi = hhi_from_counts(
        parts.where("dimension IS NULL"), key="company_id", count_col="n"
    )
    comp = companies(spark, sf_dir)
    return assemble_composite(vr, supplier_hhi, comp)


# Only the columns the evidence derivation reads: declaring unused
# columns (the timestamp ones especially) couples the stream to the
# fixture's exact parquet dtypes — the failure class that broke the
# events table in round 2.  A parquet file stream reads a SUBSET
# schema fine; extra file columns are simply never decoded.
LINEITEM_SCHEMA = "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int"


def stream_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence rows as a STREAM: lineitem arrives as files
    (readStream), orders is the static side of a stream-static join —
    the same derivation as demo_domain.evidence_rows, incremental."""
    li = (
        spark.readStream.schema(LINEITEM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "lineitem*.parquet")
        .parquet(sf_dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    )
    from ..sources.catalog import load

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(*EVIDENCE_COLUMNS)


def run_incremental_scoring(
    spark: SparkSession, sf_dir: str, gold_dir: str, checkpoint: str
) -> None:
    """One availableNow pass: stream the evidence source and merge
    partials into the gold table; call `score_from_partials` to
    serve.  Exactly-once across restarts comes from the checkpointed
    batch ids — a replayed batch is never re-merged."""
    q = (
        stream_evidence(spark, sf_dir)
        .writeStream.foreachBatch(merge_partials(gold_dir))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
