"""Evidence-featurization queries (SURVEY.md §2.3 J5/J6, §2.4 A7/A8,
§2.9 M17/M18) over a demo evidence corpus derived from the
`documents` table.

The taxonomy here uses the synthetic corpus vocabulary (the real
SOURCE/DIMENSION keyword seeds live in scoring/config.py and the
engine functions in scoring/evidence.py are taxonomy-agnostic); the
oracle SQL replays the same containment-join + aggregates + rubric
when-ladder in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scoring.config import SOURCE_PROFILES, dimension_case_sql
from ..scoring.evidence import (
    RUBRIC_LEVELS,
    dimension_hits,
    keyword_matches,
    quant_metric_sql,
    rubric_confidence_sql,
    rubric_score_sql,
)
from ..sources.catalog import load
from .registry import register

# Demo taxonomy over the synthetic corpus vocabulary.  'governance'
# never occurs → exercises the no-match path.
DEMO_KEYWORDS: dict[str, tuple[str, ...]] = {
    "data_infrastructure": ("data", "table", "column"),
    "technology_stack": ("spark", "vector", "hash"),
    "use_case_portfolio": ("query", "stream", "batch"),
    "talent_skills": ("customer", "group"),
    "leadership_vision": ("order", "sort"),
    "ai_governance": ("filter", "scan", "governance"),
    "culture_change": ("window", "merge"),
}

_SOURCES = list(SOURCE_PROFILES.keys())  # 9 canonical sources, stable order
_RELIABILITY = {src: rel for src, (rel, _w) in SOURCE_PROFILES.items()}


def _source_name_sql(src_name: str) -> str:
    """SQL twin of the former 9-arm when-ladder — one parse (r13,
    guide §5); simple-CASE resolves to the same EqualTo chain."""
    idx = f"CAST(substring({src_name}, 4, 10) AS INT) % {len(_SOURCES)}"
    arms = " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SOURCES))
    return f"CASE {idx} {arms} ELSE '{_SOURCES[0]}' END"


def demo_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → evidence rows: evidence_id, company_id, source
    (canonical), reliability, confidence, text.  Two selectExpr
    parses (r13, guide §5/§7.3) — reliability reads the projected
    `source` column and project-collapse inlines it, yielding the
    same optimized tree the former nested Column ladders built."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return d.selectExpr(
        "doc_id AS evidence_id",
        "doc_id % 50 AS company_id",
        f"{_source_name_sql('source')} AS source",
        "0.5D + CAST(doc_id % 5 AS DOUBLE) / 10.0D AS confidence",
        "text",
    ).selectExpr(
        "evidence_id",
        "company_id",
        "source",
        f"{dimension_case_sql('source', _RELIABILITY, 0.5)} AS reliability",
        "confidence",
        "text",
    )


# Flat (dimension, keyword) pairs — fed to keyword_matches' literal
# fast path (filter() HOF, no join; see scoring/evidence.py).
DEMO_KEYWORD_PAIRS: tuple[tuple[str, str], ...] = tuple(
    (d, k) for d, ks in DEMO_KEYWORDS.items() for k in ks
)


# --- shared oracle CTE fragments ------------------------------------------

_SRC_CASE = "CASE (CAST(substr(source, 4, 10) AS INT) % 9)\n" + "\n".join(
    f"             WHEN {i} THEN '{s}'" for i, s in enumerate(_SOURCES)
) + "\n             ELSE '" + _SOURCES[0] + "' END"

_REL_CASE = "CASE src\n" + "\n".join(
    f"             WHEN '{s}' THEN {rel}" for s, (rel, _w) in SOURCE_PROFILES.items()
) + "\n             ELSE 0.5 END"

_KW_VALUES = ",\n           ".join(
    f"('{d}', '{k}')" for d, ks in DEMO_KEYWORDS.items() for k in ks
)

_EVIDENCE_SQL = f"""
ev_raw AS (
    SELECT doc_id AS evidence_id,
           doc_id % 50 AS company_id,
           {_SRC_CASE} AS src,
           0.5 + CAST(doc_id % 5 AS DOUBLE) / 10.0 AS confidence,
           text
    FROM documents
),
evd AS (
    SELECT evidence_id, company_id, src AS source,
           {_REL_CASE} AS reliability,
           confidence, text
    FROM ev_raw
),
kw(dimension, keyword) AS (
    VALUES {_KW_VALUES}
),
matches AS (
    SELECT e.*, k.dimension, k.keyword
    FROM evd e JOIN kw k ON contains(e.text, k.keyword)
)"""


@register(
    "keyword_taxonomy_match",
    survey="J5,A8,F3",
    bench=True,
    oracle=f"""
WITH {_EVIDENCE_SQL.lstrip()}
SELECT company_id, dimension,
       count(*) AS n_hits,
       count(DISTINCT keyword) AS n_distinct_keywords,
       count(DISTINCT evidence_id) AS n_evidence
FROM matches
GROUP BY company_id, dimension
""",
)
def keyword_taxonomy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: evidence × taxonomy broadcast containment join (substring
    semantics, reference evidence_mapper.py:283-299) rolled up per
    (company, dimension)."""
    ev = demo_evidence(spark, sf_dir)
    return dimension_hits(ev, DEMO_KEYWORD_PAIRS)


@register(
    "source_payloads",
    survey="A8,W4,J6",
    oracle=f"""
WITH {_EVIDENCE_SQL.lstrip()},
freq AS (
    SELECT source, keyword, count(*) AS cnt
    FROM matches
    GROUP BY source, keyword
)
SELECT source, keyword, cnt, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY cnt DESC, keyword
    ) AS rk
    FROM freq
)
WHERE rk <= 3
""",
)
def source_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: keyword-frequency rollup per source bucket with top-3
    keywords (reference evidence_mapper.py:360-407 build_source_payloads
    + top-5 keyword maps)."""
    from pyspark.sql import Window

    ev = demo_evidence(spark, sf_dir)
    m = keyword_matches(ev, DEMO_KEYWORD_PAIRS)
    freq = m.groupBy("source", "keyword").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("keyword"))
    return (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .withColumn("rk", F.col("rk").cast("int"))
    )


@register(
    "evidence_dimension_features",
    survey="A7,J6",
    oracle=f"""
WITH {_EVIDENCE_SQL.lstrip()},
scored AS (
    SELECT *,
           40 + (evidence_id * 7 + length(keyword) * 13) % 61 AS raw_i,
           CAST(round(confidence * 10) AS BIGINT) AS c_i,
           CAST(round(reliability * 100) AS BIGINT) AS r_i
    FROM matches
)
SELECT company_id, dimension,
       floor((CASE WHEN sum(c_i * r_i) <> 0
                   THEN CAST(sum(raw_i * c_i * r_i) AS DOUBLE) / CAST(sum(c_i * r_i) AS DOUBLE)
                   ELSE 50.0 END) * 10000.0 + 0.5) / 10000.0 AS weighted_score,
       floor((CASE WHEN count(*) > 0
                   THEN CAST(sum(c_i * r_i) AS DOUBLE) / (1000.0 * count(*))
                   ELSE 0.5 END) * 1000000.0 + 0.5) / 1000000.0 AS confidence,
       count(*) AS evidence_count
FROM scored
GROUP BY company_id, dimension
""",
)
def evidence_dimension_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/J6: reliability·confidence-weighted dimension features with a
    *varying* per-hit raw score (reference evidence_mapper.py:159-213 —
    the weighted mean must actually weight; a constant raw score is
    degenerate).

    Hash-stability: sums run on SCALED INTEGERS (exact, order-
    independent across any partitioning), with one final IEEE division
    per output — bit-identical between Spark and DuckDB at every sf,
    unlike double-sum aggregates whose low bits depend on summation
    order (the round-3 driver flake)."""
    from ..functions.core import round_stable
    from ..scoring.evidence import weighted_dimension_features

    ev = demo_evidence(spark, sf_dir)
    out = weighted_dimension_features(ev, DEMO_KEYWORD_PAIRS, fixed_point=(10, 100))
    return out.select(
        "company_id",
        "dimension",
        round_stable("weighted_score", 4).alias("weighted_score"),
        round_stable("confidence", 6).alias("confidence"),
        "evidence_count",
    )


def _rubric_case_sql(hits: str, metric: str) -> str:
    lines = []
    for level, min_hits, min_metric, lo, hi in RUBRIC_LEVELS[:-1]:
        interp = (
            f"{lo} + {hi - lo} * least(1.0, CAST({hits} AS DOUBLE) / {float(max(min_hits, 1))})"
        )
        lines.append(f"WHEN {hits} >= {min_hits} AND {metric} >= {min_metric} THEN {interp}")
    return "CASE " + "\n            ".join(lines) + " ELSE 10.0 END"


@register(
    "rubric_dimension_scores",
    survey="M17,M18,F14",
    bench=True,
    oracle=f"""
WITH {_EVIDENCE_SQL.lstrip()},
agg AS (
    SELECT company_id, dimension,
           count(*) AS n_hits,
           count(DISTINCT evidence_id) AS n_evidence,
           avg(reliability) AS avg_rel
    FROM matches
    GROUP BY company_id, dimension
),
m AS (
    SELECT *,
           least(greatest(0.45 * n_hits / 30.0 + 0.35 * n_evidence / 40.0
                          + 0.20 * avg_rel, 0.0), 1.0) AS metric
    FROM agg
)
SELECT company_id, dimension, n_hits, n_evidence,
       round(metric, 6) AS metric,
       round({_rubric_case_sql("n_hits", "metric")}, 6) AS rubric_score,
       round(least(0.95, 0.50 + 0.08 * n_hits + 0.30 * metric), 6) AS rubric_confidence
FROM m
""",
)
def rubric_dimension_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17/M18: ordered rubric descent (first satisfied level wins,
    when-chain — NOT a join that could match several levels) over
    keyword-hit counts + the quant-metric proxy.

    Reference: app/scoring_engine/rubric_scorer.py:83-319.
    """
    ev = demo_evidence(spark, sf_dir)
    agg = keyword_matches(ev, DEMO_KEYWORD_PAIRS).groupBy("company_id", "dimension").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("evidence_id").alias("n_evidence"),
        F.avg("reliability").alias("avg_rel"),
    )
    withm = agg.withColumn(
        "metric", F.expr(quant_metric_sql("n_hits", "n_evidence", "avg_rel"))
    )
    return withm.select(
        "company_id",
        "dimension",
        "n_hits",
        "n_evidence",
        F.expr("round(metric, 6)").alias("metric"),
        F.round(F.expr(rubric_score_sql("n_hits", "metric")), 6).alias("rubric_score"),
        F.round(F.expr(rubric_confidence_sql("n_hits", "metric")), 6).alias(
            "rubric_confidence"
        ),
    )


@register(
    "top_keywords_csv",
    survey="W4,F15 (extension: ordered list aggregation)",
    oracle=f"""
WITH {_EVIDENCE_SQL.lstrip()},
counts AS (
    SELECT dimension, keyword, count(*) AS c
    FROM matches GROUP BY dimension, keyword
),
ranked AS (
    SELECT dimension, keyword, c,
           row_number() OVER (PARTITION BY dimension ORDER BY c DESC, keyword) AS rk
    FROM counts
)
SELECT dimension,
       string_agg(keyword, ',' ORDER BY rk) AS top_keywords,
       CAST(sum(c) AS BIGINT) AS total_hits
FROM ranked WHERE rk <= 5
GROUP BY dimension
""",
)
def top_keywords_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 as an ORDERED LIST AGGREGATION: the top-5 keywords per
    dimension joined into one ordered CSV cell (the reference's top-5
    keyword maps, evidence_mapper.py:399-407, serialized for a report
    table).  Spark's collect_list has no ORDER BY — determinism comes
    from collecting (rk, keyword) structs and array_sort-ing BEFORE
    the join, the portable spelling of DuckDB's
    `string_agg(... ORDER BY rk)`."""
    ev = demo_evidence(spark, sf_dir)
    m = keyword_matches(ev, DEMO_KEYWORD_PAIRS)
    counts = m.groupBy("dimension", "keyword").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    w = Window.partitionBy("dimension").orderBy(F.desc("c"), F.asc("keyword"))
    top = counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    return top.groupBy("dimension").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "keyword"))),
                lambda x: x["keyword"],
            ),
            ",",
        ).alias("top_keywords"),
        F.sum("c").cast("bigint").alias("total_hits"),
    )
