"""Evidence → dimension featurization (reference
app/scoring_engine/evidence_mapper.py + rubric_scorer.py, SURVEY.md
§2.3 J5/J6, §2.4 A7/A8, §2.9 M17/M18).

Reference semantics reproduced:
- keyword-taxonomy match (evidence_mapper.py:283-299): each evidence
  text is checked for *substring* containment (`kw in text` — NOT
  word-boundary; F3 vs F2 distinction in SURVEY §2.8) against each
  dimension's keyword list; matches emit (evidence, dimension,
  matched_keywords).
- source payloads (evidence_mapper.py:360-373): per source bucket,
  evidence counts + keyword frequencies.
- weighted dimension features (evidence_mapper.py:159-213): per
  dimension Σ(raw·conf·rel·w)/Σ(w·conf·rel), confidence
  Σ(conf·rel·w)/Σw, with defaults score 50 / conf 0.5 when nothing
  matched.
- rubric scorer (rubric_scorer.py:169-231): ordered level descent
  L5→L1 — first level whose (min keyword hits, min metric) are both
  met wins; score interpolates inside the level band
  lo + (hi−lo)·min(1, hits/needed); confidence
  min(0.95, 0.50 + 0.08·hits + 0.30·metric); L1 default score 10,
  confidence 0.40.
- quant-metric proxy (rubric_scorer.py:245-256):
  clamp(0.45·ws/30 + 0.35·ev/40 + 0.20·rel, 0, 1).

Spark shape: the taxonomy is a broadcast (dimension, keyword) table;
the containment match is a broadcast nested-loop join filtered by
`contains` — no shuffle on the evidence side; everything downstream
is groupBy aggregates and when-ladders (ordered descent must be a
when-chain, not a join, to preserve first-match-wins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import clamp_sql, flit

# Rubric level bands (reference rubric_scorer.py:83-133 shape): level,
# min keyword hits, min metric, score band [lo, hi].
RUBRIC_LEVELS: tuple[tuple[int, int, float, float, float], ...] = (
    (5, 8, 0.80, 85.0, 100.0),
    (4, 6, 0.60, 70.0, 85.0),
    (3, 4, 0.40, 55.0, 70.0),
    (2, 2, 0.20, 30.0, 55.0),
    (1, 0, 0.00, 10.0, 30.0),
)


def keyword_matches(evidence: DataFrame, keywords) -> DataFrame:
    """J5: evidence × taxonomy containment match.

    evidence: evidence_id, company_id, source, text, confidence, reliability
    keywords: either a (dimension, keyword) DataFrame — broadcast
    nested-loop join — or a plain sequence of (dimension, keyword)
    pairs, which takes the join-free fast path: the taxonomy becomes a
    literal array<struct> column and the match is a `filter()`
    higher-order function + `explode`.  No join, no shuffle, stays
    inside whole-stage codegen — at 100 TB the taxonomy (~70 entries)
    should always ship as a literal, never as a join side.

    Returns one row per (evidence, dimension, keyword) hit; substring
    semantics — deliberately not word-boundary (F3 vs F2).
    """
    if isinstance(keywords, DataFrame):
        kw = F.broadcast(keywords)
        return evidence.join(kw, F.col("text").contains(F.col("keyword")))
    # ONE F.expr parse for the literal taxonomy + containment filter
    # (r13, guide §5/§7.3): the former per-pair F.lit/F.struct build
    # cost ~210 py4j round trips per DataFrame construction and the
    # python-lambda filter another HOF setup; the SQL spells the same
    # array<struct<dimension,keyword>> literal and the same substring
    # containment, so the plan and results are unchanged.
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    kw_items = ", ".join(
        f"named_struct('dimension', {q(d)}, 'keyword', {q(k)})"
        for d, k in keywords
    )
    hit = F.expr(
        f"explode(filter(array({kw_items}), x -> contains(text, x.keyword)))"
    ).alias("_m")
    return (
        evidence.select("*", hit)
        .select("*", "_m.dimension", "_m.keyword")
        .drop("_m")
    )


def hit_raw_score(evidence_id: Column, keyword: Column) -> Column:
    """Deterministic varying per-hit raw score in [40, 100]:
    40 + (evidence_id·7 + len(keyword)·13) mod 61.  Pure integer
    arithmetic → bit-identical between Spark and any ANSI-SQL oracle;
    varies across hit rows so A7's weighted mean actually weights
    (reference evidence_mapper.py:159-213)."""
    return (
        F.lit(40)
        + (evidence_id * F.lit(7) + F.length(keyword) * F.lit(13)) % F.lit(61)
    ).cast("double")


def dimension_hits(evidence: DataFrame, keywords: DataFrame) -> DataFrame:
    """Per (company, dimension): keyword hit stats from J5 matches."""
    m = keyword_matches(evidence, keywords)
    return m.groupBy("company_id", "dimension").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("keyword").alias("n_distinct_keywords"),
        F.countDistinct("evidence_id").alias("n_evidence"),
    )


def weighted_dimension_features(
    evidence: DataFrame,
    keywords: DataFrame,
    raw: Column | None = None,
    fixed_point: tuple[int, int] | None = None,
) -> DataFrame:
    """A7: per (company, dimension) weighted score & confidence.

    `raw` is the per-hit raw score column (reference
    evidence_mapper.py:159-213 weights *varying* raw scores with
    Σ(raw·conf·rel)/Σ(conf·rel)); callers must supply one that varies
    across hit rows — a constant would make the weighted mean
    degenerate (identically that constant).  Defaults to a
    deterministic doc/keyword-derived score in [40, 100] so the
    weighting path is always exercised.  Confidence is
    Σ(conf·rel)/count; empty dimensions get the 50/0.5 defaults
    downstream via coalesce.

    `fixed_point=(conf_scale, rel_scale)` switches the sums to exact
    scaled-integer arithmetic (order-independent, reproducible at any
    partitioning — see inline comment) when confidence/reliability are
    fixed-point decimals (e.g. (10, 100) for 1dp confidence × 2dp
    reliability).  `raw` must be integer-valued on this path.
    """
    m = keyword_matches(evidence, keywords)
    if raw is None:
        raw = hit_raw_score(F.col("evidence_id"), F.col("keyword"))
    if fixed_point is not None:
        # Exact integer fixed-point path: double-sum aggregates are NOT
        # reproducible across partitionings (summation order changes
        # the low bits; at a rounding boundary that flips the rounded
        # value — observed live on this query's `confidence` at sf0.01
        # / 32 partitions).  When confidence/reliability are fixed-
        # point decimals, scale them to integers, sum LONGS (exact,
        # order-independent), and divide ONCE at the end — the single
        # IEEE division is bit-identical in every engine and every
        # partitioning.  This is the path to use at 100 TB.
        conf_scale, rel_scale = fixed_point
        c_i = F.round(F.col("confidence") * conf_scale).cast("long")
        r_i = F.round(F.col("reliability") * rel_scale).cast("long")
        raw_i = raw.cast("long")
        den_i = F.sum(c_i * r_i)
        num_i = F.sum(raw_i * c_i * r_i)
        cnt = F.count(F.lit(1))
        scale = float(conf_scale * rel_scale)
        return m.groupBy("company_id", "dimension").agg(
            F.when(den_i != 0, num_i.cast("double") / den_i.cast("double"))
            .otherwise(F.lit(50.0))
            .alias("weighted_score"),
            F.when(cnt > 0, den_i.cast("double") / (F.lit(scale) * cnt))
            .otherwise(F.lit(0.5))
            .alias("confidence"),
            cnt.alias("evidence_count"),
        )
    num = F.sum(raw * F.col("confidence") * F.col("reliability"))
    den = F.sum(F.col("confidence") * F.col("reliability"))
    return m.groupBy("company_id", "dimension").agg(
        F.when(den != 0, num / den).otherwise(F.lit(50.0)).alias("weighted_score"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.sum(F.col("confidence") * F.col("reliability")) / F.count(F.lit(1)),
        )
        .otherwise(F.lit(0.5))
        .alias("confidence"),
        F.count(F.lit(1)).alias("evidence_count"),
    )


def quant_metric_sql(weighted_signals: str, evidence_count: str, reliability: str) -> str:
    """M18: metric = clamp(0.45·ws/30 + 0.35·ev/40 + 0.20·rel, 0, 1)
    (rubric_scorer.py:245-256)."""
    return clamp_sql(
        f"0.45D * {weighted_signals} / 30.0D"
        f" + 0.35D * {evidence_count} / 40.0D"
        f" + 0.2D * {reliability}",
        0.0,
        1.0,
    )


def rubric_score_sql(hits: str, metric: str) -> str:
    """M17 ordered level descent as one CASE (first satisfied level
    wins, L5→L1) with in-band interpolation; L1 default score 10
    (rubric_scorer.py:221-224)."""
    arms = " ".join(
        f"WHEN {hits} >= {min_hits} AND {metric} >= {flit(min_metric)} "
        f"THEN {flit(lo)} + {flit(hi - lo)} * least(1.0D, "
        f"CAST({hits} AS DOUBLE) / {flit(float(max(min_hits, 1)))})"
        for _level, min_hits, min_metric, lo, hi in RUBRIC_LEVELS[:-1]
    )
    return f"CASE {arms} ELSE 10.0D END"


def rubric_confidence_sql(hits: str, metric: str) -> str:
    """min(0.95, 0.50 + 0.08·hits + 0.30·metric) (rubric_scorer.py:212-218)."""
    return f"least(0.95D, 0.5D + 0.08D * CAST({hits} AS DOUBLE) + 0.3D * {metric})"
