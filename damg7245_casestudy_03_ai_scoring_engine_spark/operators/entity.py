"""Blocked fuzzy entity resolution (SURVEY.md §2.12 extension).

The reference normalizes free-text company identifiers against a
canonical list (ticker validation app/routers/collection.py:69-88 and
the name→CIK mapping in app/pipelines/sec_edgar.py) with exact
lookups; the real-world version of that problem is FUZZY: dirty names
(typos, truncations) must resolve to canonical entities.  The
scalable shape is block → verify → resolve:

- **block**: candidate pairs come only from an EQUI-join on a cheap
  blocking key (first-3-chars here) — never an all-pairs product.
  Recall is provable because the perturbation model (a char dropped
  at position ≥ 3) cannot change the key.
- **verify**: `levenshtein` (identical classic edit-distance in Spark
  and DuckDB) within the block, threshold ≤ 2.
- **resolve**: per dirty record keep the best candidate
  (min distance, then min key — deterministic).

At 100 TB the block join shuffles on the key like any aggregate;
block-size skew (common name prefixes) is AQE-skew-join territory,
and a second blocking key (length band, phonetic code) multiplies
recall without widening any single block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import topk_ranked
from ..sources.catalog import load
from .registry import register

_MAX_DIST = 2

# Deterministic dirty twin of every part name: drop one char at
# position >= 3 (derived from the part key), so the first-3-char
# blocking key provably survives the corruption.
_TYPO_SQL = """
dirty AS (
    SELECT p_partkey AS src_key,
           p_name AS orig_name,
           3 + p_partkey % greatest(length(p_name) - 3, 1) AS pos0,
           substr(p_name, 1, CAST(3 + p_partkey % greatest(length(p_name) - 3, 1) AS INT))
             || substr(p_name, CAST(5 + p_partkey % greatest(length(p_name) - 3, 1) AS INT))
               AS typo_name
    FROM part
)"""


@register(
    "fuzzy_entity_match",
    survey="§2.12 entity resolution (block → levenshtein verify → best-match resolve); P9,J1 fuzzy twin",
    oracle=f"""
WITH {_TYPO_SQL.lstrip()},
cand AS (
    SELECT d.src_key, d.orig_name, d.typo_name,
           p.p_partkey AS cand_key, p.p_name AS cand_name,
           levenshtein(d.typo_name, p.p_name) AS dist
    FROM dirty d
    JOIN part p ON substr(d.typo_name, 1, 3) = substr(p.p_name, 1, 3)
    WHERE levenshtein(d.typo_name, p.p_name) <= {_MAX_DIST}
)
SELECT src_key, typo_name, cand_key AS matched_key,
       CAST(dist AS INT) AS dist,
       CASE WHEN cand_name = orig_name THEN 1 ELSE 0 END AS is_correct
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY src_key ORDER BY dist, cand_key
    ) AS rk
    FROM cand
)
WHERE rk = 1
""",
)
def fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve deterministically-corrupted part names back to the
    canonical part list via first-3-char blocking + edit-distance
    verification + best-match ranking.  The corruption model drops a
    char at position ≥ 3, so block recall is exactly 1.0 and every
    dirty record has its true entity at distance ≤ 1 — the resolve
    step still has real work because vocabulary names repeat across
    part keys — resolution is correct when the matched NAME equals the
    corrupted row's original name (is_correct; duplicate names are the
    same surface entity), pinned to >=99% in tests."""
    part = load(spark, sf_dir, "part")
    dirty = part.select(
        F.col("p_partkey").alias("src_key"),
        F.col("p_name").alias("orig_name"),
        F.concat(
            F.expr("substr(p_name, 1, CAST(3 + p_partkey % greatest(length(p_name) - 3, 1) AS INT))"),
            F.expr("substr(p_name, CAST(5 + p_partkey % greatest(length(p_name) - 3, 1) AS INT))"),
        ).alias("typo_name"),
    ).withColumn("_blk", F.substring("typo_name", 1, 3))
    canon = part.select(
        F.col("p_partkey").alias("cand_key"),
        F.col("p_name").alias("cand_name"),
        F.substring("p_name", 1, 3).alias("_blk"),
    )
    dist = F.levenshtein("typo_name", "cand_name")
    cand = (
        dirty.join(canon, "_blk")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= _MAX_DIST)
    )
    return topk_ranked(cand, "PARTITION BY src_key ORDER BY dist, cand_key", 1).select(
        "src_key",
        "typo_name",
        F.col("cand_key").alias("matched_key"),
        F.col("dist").cast("int").alias("dist"),
        F.when(F.col("cand_name") == F.col("orig_name"), 1)
        .otherwise(0)
        .alias("is_correct"),
    )
