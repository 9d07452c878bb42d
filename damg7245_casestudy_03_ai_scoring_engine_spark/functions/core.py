"""Core scalar column helpers (SURVEY.md §2.8 F9–F13).

The reference defines ``clamp`` five separate times
(app/scoring_engine/vr_model.py:23-24, composite.py:13-14,
synergy.py:42-43, app/scoring/utils.py:4-5,
scripts/run_scoring_engine.py:33-34) and ``safe_div`` once
(app/scoring/utils.py:7-9).  Here each is a single column-expression
helper: pure JVM-side `Column` math, whole-stage-codegen friendly, no
Python UDFs.

All helpers are ANSI-safe: guarded denominators, no implicit casts
that can raise under `spark.sql.ansi.enabled=true`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def clamp(col: Column | str, lo: float, hi: float) -> Column:
    """clamp(x, lo, hi) — reference app/scoring/utils.py:4-5."""
    return F.least(F.greatest(_col(col), F.lit(float(lo))), F.lit(float(hi)))


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
# `clamp` and `round_stable` alone keep a Column form next to their
# fragment: about eighty operator call sites pass them Column
# expressions built from other Column helpers, so a fragment-only
# form would mean rewriting each of those expressions as text.


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
    return f"least(greatest({x}, {flit(lo)}), {flit(hi)})"


def conf_floor_sql(x: str, floor: float = 0.20) -> str:
    """Effective confidence max(conf, floor), NULL as 0 — reference
    app/scoring_engine/vr_model.py:58-61."""
    return f"greatest(coalesce({x}, 0.0D), {flit(floor)})"


def round_stable_sql(x: str, scale: int) -> str:
    p = flit(float(10**scale))
    return f"floor({x} * {p} + 0.5D) / {p}"


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


def safe_div(num: Column | str, den: Column | str, default: float = 0.0) -> Column:
    """num/den with a default when den is 0 or NULL — reference
    app/scoring/utils.py:7-9.  Guarded so ANSI mode never raises."""
    den = _col(den)
    return F.when(den.isNotNull() & (den != 0), _col(num) / den).otherwise(
        F.lit(float(default))
    )


def blend(col: Column | str, target: Column | str | float, weight: Column | float) -> Column:
    """Prior blending `(1-w)*x + w*target` — reference
    scripts/run_scoring_engine.py:47-49."""
    t = F.lit(float(target)) if isinstance(target, (int, float)) else _col(target)
    w = F.lit(float(weight)) if isinstance(weight, (int, float)) else weight
    return (F.lit(1.0) - w) * _col(col) + w * t


def round_stable(col: Column | str, scale: int) -> Column:
    """Cross-engine-stable fixed-point rounding for SIGNED doubles:
    floor(x·10^s + 0.5)/10^s.

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
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**scale)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)


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
    rounded, hence engine-identical) through round_stable(6), and 0.0
    when either variance is zero.  The oracle SQL spells the same
    formula."""
    s = pairs.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.col(x) * F.col(x)).alias("sxx"),
        F.sum(F.col(y) * F.col(y)).alias("syy"),
        F.sum(F.col(x) * F.col(y)).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(k) for k in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    num = (n * sxy - sx * sy).cast("long")
    d1 = (n * sxx - sx * sx).cast("long")
    d2 = (n * syy - sy * sy).cast("long")
    r = F.when(
        (d1 > 0) & (d2 > 0),
        round_stable(
            num.cast("double") / F.sqrt(d1.cast("double") * d2.cast("double")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return s.select(key, n.alias(n_out), num.alias("r_num"), r.alias(r_out))
