"""Core scalar formula fragments (SURVEY.md §2.8 F9–F13).

The reference defines ``clamp`` five separate times
(app/scoring_engine/vr_model.py:23-24, composite.py:13-14,
synergy.py:42-43, app/scoring/utils.py:4-5,
scripts/run_scoring_engine.py:33-34) and ``safe_div`` once
(app/scoring/utils.py:7-9).  Here each formula is a single SQL
fragment: pure JVM-side expression math, whole-stage-codegen
friendly, no Python UDFs.

All fragments are ANSI-safe: guarded denominators, no implicit casts
that can raise under `spark.sql.ansi.enabled=true`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --- SQL fragments: the one spelling of each formula ----------------------
# Every scoring formula (here, in vectors.py and in scoring/) is written
# once, as a function that composes SQL text python-side; a caller
# that needs a Column wraps the fragment in ONE F.expr/selectExpr
# parse.  Classic-API Column arithmetic costs a py4j round trip per
# operator at construction time, and a formula spelled both ways can
# drift between its two spellings.  Fragment arguments are SQL
# operands: a column name, a literal, or a parenthesised expression.
# `!r` on floats emits the shortest round-tripping decimal
# (bit-exact reparse); the D suffix keeps literals DOUBLE (bare
# decimals parse as DECIMAL and would change the expression types).
#
# No formula here has a Column twin: a caller whose operand is a
# Column expression spells that operand as SQL text too, or projects
# it first under a name (Catalyst collapses the two projections, so
# the plan is the same either way).


def flit(v: float) -> str:
    """A double literal fragment bit-identical to F.lit(float(v)).

    Non-finite floats would render as invalid SQL ('infD'/'nanD') and
    surface as an obscure parse error far from the bad config value
    (these fragments are spliced by many builders) — fail fast here
    instead (r13 advisor note)."""
    import math

    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"flit() requires a finite float, got {v!r}")
    return f"{v!r}D"


def clamp_sql(x: str, lo: float, hi: float) -> str:
    """clamp(x, lo, hi) — reference app/scoring/utils.py:4-5."""
    return f"least(greatest({x}, {flit(lo)}), {flit(hi)})"


def conf_floor_sql(x: str, floor: float = 0.20) -> str:
    """Effective confidence max(conf, floor), NULL as 0 — reference
    app/scoring_engine/vr_model.py:58-61."""
    return f"greatest(coalesce({x}, 0.0D), {flit(floor)})"


def round_stable_sql(x: str, scale: int) -> str:
    """Cross-engine-stable fixed-point rounding for SIGNED doubles:
    floor(x·10^s + 0.5)/10^s.  `x` is spliced in before `* 10^s`, so a
    sum or difference must come in parentheses.

    On negatives this is round-half-UP toward +inf (-0.5 → 0, not
    -1), i.e. NOT half-away-from-zero — that asymmetry is fine and
    deliberate: parity only needs both engines to spell the IDENTICAL
    formula, and the oracle SQL does (mom_revenue_growth and the CUSUM
    family feed negatives through it; signed-value parity is pinned in
    tests/test_scoring_math.py::
    test_round_stable_signed_values_match_oracle_formula).  Do not "fix" this into abs()-based
    symmetric rounding — that would double the formula surface for
    zero parity gain.

    Spark's `round()` rounds the exact decimal expansion of the double
    (BigDecimal HALF_UP) while DuckDB rounds the SCALED double — at a
    .5-ULP boundary the two disagree (first observed on
    org_air_flagship.hr_score at sf0.1: 5 of 15k rows off by 1e-4).
    Using this identical IEEE multiply+add+floor on BOTH sides (the
    oracle SQL spells out the same formula) makes the rounded value
    bit-identical in every engine."""
    p = flit(float(10**scale))
    return f"floor({x} * {p} + 0.5D) / {p}"


def split_bucket_sql(key: str) -> str:
    """The salted train/eval bucket in [0, 100) of a STRING key:
    md5(key ‖ '|split-seed-1'), first 8 hex digits as BIGINT, % 100.
    Buckets < 90 are the training side.  No rand(): a row's side never
    changes when data is re-partitioned or re-ingested, and the oracle
    SQL replays the same hash."""
    return (
        f"CAST(conv(substring(md5(concat({key}, '|split-seed-1')), 1, 8), 16, 10)"
        " AS BIGINT) % 100"
    )


def score_band_sql(x: str) -> str:
    """Maturity band ladder at <=20/40/60/80 →
    Nascent/Developing/Progressing/Advanced/Leading — reference
    app/scoring_engine/composite.py:17-34."""
    return (
        f"CASE WHEN {x} <= 20 THEN 'Nascent' "
        f"WHEN {x} <= 40 THEN 'Developing' "
        f"WHEN {x} <= 60 THEN 'Progressing' "
        f"WHEN {x} <= 80 THEN 'Advanced' "
        "ELSE 'Leading' END"
    )


def topk_ranked(df: DataFrame, over_sql: str, k: int) -> DataFrame:
    """The rank-filter tail — the reference's top-5 keywords per
    dimension (evidence_mapper.py:399-407) and latest score per company
    (`ROW_NUMBER() … = 1`, routers/scoring.py:222-241): `df` plus an
    INT `rk` = row_number() OVER (`over_sql`), keeping rk <= k.

    `over_sql` is the OVER body (`PARTITION BY q ORDER BY s DESC, id`;
    a bare `ORDER BY …` ranks globally), so ties break exactly as its
    ORDER BY says.  The rank and its bound sit next to each other, so
    Catalyst plans the Partial/Final `WindowGroupLimit` pair: each map
    task keeps only every group's top k rows before the shuffle."""
    return df.withColumn("rk", F.expr(f"row_number() OVER ({over_sql})")).filter(
        f"rk <= {k}"
    )


def exact_pearson(
    pairs: DataFrame, key: str, x: str, y: str, n_out: str, r_out: str
) -> DataFrame:
    """Per `key`: pair count `n_out`, the exact int64 numerator `r_num`
    and Pearson's r of INTEGER columns `x`, `y` as `r_out`.

    The five moments (Σx, Σy, Σx², Σy², Σxy) are exact int64 sums, so
    n·Σxy − Σx·Σy and both variance terms are exact too; r is ONE
    fixed-order double expression over them (sqrt is IEEE-correctly
    rounded, hence engine-identical) through round_stable_sql(6), and
    0.0 when either variance is zero.  The oracle SQL spells the same
    formula."""
    s = pairs.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.col(x) * F.col(x)).alias("sxx"),
        F.sum(F.col(y) * F.col(y)).alias("syy"),
        F.sum(F.col(x) * F.col(y)).alias("sxy"),
    )
    num = "CAST(n * sxy - sx * sy AS BIGINT)"
    d1 = "CAST(n * sxx - sx * sx AS BIGINT)"
    d2 = "CAST(n * syy - sy * sy AS BIGINT)"
    r = round_stable_sql(
        f"CAST({num} AS DOUBLE) / sqrt(CAST({d1} AS DOUBLE) * CAST({d2} AS DOUBLE))", 6
    )
    return s.selectExpr(
        key,
        f"n AS {n_out}",
        f"{num} AS r_num",
        f"CASE WHEN {d1} > 0 AND {d2} > 0 THEN {r} ELSE 0.0D END AS {r_out}",
    )
