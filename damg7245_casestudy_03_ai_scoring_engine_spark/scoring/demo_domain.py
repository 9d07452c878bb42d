"""Deterministic mapping of the driver's TPC-H-ish test tables onto
the scoring domain model, so the full Org-AI-R pipeline can run (and
be oracle-checked) on `/root/testdata/sf*`.

Mapping (pure column math — every derivation is reproducible in ANSI
SQL so the DuckDB oracle can replay it):
- customer  → companies  (c_custkey=company_id, mktsegment→sector,
  position_factor = clamp(c_acctbal/10000, −1, 1))
- orders ⋈ lineitem → dimension evidence rows: dimension =
  DIMENSIONS[l_linenumber % 7], score = (l_partkey·7+l_suppkey) % 101,
  confidence = (l_orderkey % 10)/10
- lineitem supplier exposure → the HHI "job function" analog
  (supplier concentration per customer).

At 100 TB the same shapes hold: the fact scan is partitioned by the
natural keys, dims broadcast, and every aggregate is partial-agg
friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import clamp_sql
from ..sources.catalog import load
from .config import DIMENSIONS

SEGMENT_SECTOR: dict[str, str] = {
    "AUTOMOBILE": "Industrials",
    "BUILDING": "Financial",
    "FURNITURE": "Consumer",
    "HOUSEHOLD": "Services",
    "MACHINERY": "Healthcare",
}


def _sector_sql(seg_name: str) -> str:
    """Customer segment → sector CASE fragment."""
    arms = " ".join(
        f"WHEN {seg_name} = '{seg}' THEN '{sec}'"
        for seg, sec in SEGMENT_SECTOR.items()
    )
    return f"CASE {arms} ELSE 'Services' END"


def _dimension_sql(linenumber_name: str) -> str:
    """Line number → dimension CASE fragment (DIMENSIONS[n % 7])."""
    arms = " ".join(
        f"WHEN {linenumber_name} % 7 = {i} THEN '{DIMENSIONS[i]}'"
        for i in range(7)
    )
    return f"CASE {arms} ELSE '{DIMENSIONS[0]}' END"


# lineitem ⋈ orders → evidence row; shared with the streaming
# derivation (incremental.stream_evidence).
EVIDENCE_COLUMNS: tuple[str, ...] = (
    "o_custkey AS company_id",
    f"{_dimension_sql('l_linenumber')} AS dimension",
    "CAST((l_partkey * 7 + l_suppkey) % 101 AS DOUBLE) AS score_raw",
    "CAST(l_orderkey % 10 AS DOUBLE) / 10.0D AS conf_raw",
    "l_suppkey AS supp_key",
)


def companies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """company_id, sector, position_factor."""
    # selectExpr single parse (r13, guide §5/§7.3): identical columns
    # and arithmetic as the former Column-chain build.
    c = load(spark, sf_dir, "customer")
    return c.selectExpr(
        "c_custkey AS company_id",
        f"{_sector_sql('c_mktsegment')} AS sector",
        f"{clamp_sql('c_acctbal / 10000.0D', -1.0, 1.0)} AS position_factor",
    )


def evidence_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw per-lineitem evidence: company_id, dimension, score_raw,
    conf_raw, supp_key."""
    li = load(spark, sf_dir, "lineitem", fan_out=True).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(*EVIDENCE_COLUMNS)


def dimension_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """company_id, dimension, score, weight, confidence, evidence_count
    — the shape of the reference's dimension_scores table
    (schema.sql:51-63)."""
    return dimension_scores_from(evidence_rows(spark, sf_dir))


def dimension_scores_from(ev: DataFrame) -> DataFrame:
    """Aggregate an (already materialized) evidence frame — lets a
    caller with several evidence consumers share one scan/join."""
    return ev.groupBy("company_id", "dimension").agg(
        F.avg("score_raw").alias("score"),
        F.lit(None).cast("double").alias("weight"),  # default per-dim weight applies
        F.avg("conf_raw").alias("confidence"),
        F.count(F.lit(1)).alias("evidence_count"),
    )
