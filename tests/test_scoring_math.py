"""Closed-form unit tests for the scoring stack, mirroring the
reference's test suite (SURVEY.md §5):

- VR bounds / zero-weight behavior (reference tests/test_vr_model.py:4-22)
- synergy cap ±15 and positive/negative activation (test_synergy.py:4-40)
- composite closed form + timing clamp both ways (test_scoring_engine_components.py:82-97)
- HHI range & concentration (test_talent_penalty.py:4-13)
- band edges (composite.py:17-34)
- talent risk adjustment monotone-inverse (test_property_hypothesis.py:53-60)
- golden portfolio ranges from priors (test_portfolio_validation.py:13-35)

Each formula is a SQL fragment (its only spelling in the package);
the closed-form tests evaluate fragments over one-row DataFrames whose
columns carry the named inputs.
"""

from __future__ import annotations

import pytest

from damg7245_casestudy_03_ai_scoring_engine_spark.functions.core import (
    clamp_sql,
    round_stable_sql,
    score_band_sql,
)
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring import config as C
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.composite import composite_sql
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.evidence import (
    quant_metric_sql,
    rubric_confidence_sql,
    rubric_score_sql,
)
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.hr import (
    hr_score_sql,
    position_factor_sql,
)
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.synergy import (
    formula_synergy_sql,
    rule_synergy,
)
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.talent import (
    hhi,
    hhi_penalty_factor_sql,
    talent_concentration_sql,
    talent_risk_adjustment_sql,
)
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.vr import vr_scores


def _eval(spark, inputs: dict, **fragments):
    """Evaluate SQL fragments over ONE row whose double columns are
    `inputs`; returns the row with one field per fragment."""
    row = spark.createDataFrame(
        [tuple(float(v) for v in inputs.values())],
        ", ".join(f"{name} double" for name in inputs),
    )
    return row.selectExpr(*(f"{sql} AS {alias}" for alias, sql in fragments.items())).collect()[0]


def _dim_rows(scores, confs=None, weights=None):
    confs = confs or [0.8] * len(scores)
    weights = weights or [1.0 / len(scores)] * len(scores)
    return [
        ("c1", d, float(s), float(w), float(cf))
        for d, s, w, cf in zip(C.DIMENSIONS, scores, weights, confs)
    ]


DIM_SCHEMA = "company_id string, dimension string, score double, weight double, confidence double"


def test_vr_bounded_and_weighted(spark):
    # Reference fixture: scores 70/90/90/100/90/90/90, conf 0.8-0.9,
    # uniform weights (tests/test_vr_model.py:4-16).
    df = spark.createDataFrame(
        _dim_rows([70, 90, 90, 100, 90, 90, 90], confs=[0.8, 0.9, 0.8, 0.9, 0.8, 0.9, 0.8]),
        DIM_SCHEMA,
    )
    row = vr_scores(df).collect()[0]
    assert 0.0 <= row.vr_raw <= 100.0
    # hand-computed weighted mean with conf floor (all conf > 0.2)
    num = sum(s * (1 / 7) * c for s, c in zip([70, 90, 90, 100, 90, 90, 90], [0.8, 0.9, 0.8, 0.9, 0.8, 0.9, 0.8]))
    den = sum((1 / 7) * c for c in [0.8, 0.9, 0.8, 0.9, 0.8, 0.9, 0.8])
    assert row.vr_raw == pytest.approx(num / den, abs=1e-9)


def test_vr_zero_weight_is_zero(spark):
    df = spark.createDataFrame(
        _dim_rows([50] * 7, weights=[0.0] * 7), DIM_SCHEMA
    )
    row = vr_scores(df).collect()[0]
    assert row.vr_raw == 0.0  # zero total weight → 0 (vr_model.py:50-96)


def test_vr_confidence_floor(spark):
    # conf 0.0 must be floored to 0.20, not drop the row.
    df = spark.createDataFrame(_dim_rows([80] * 7, confs=[0.0] * 7), DIM_SCHEMA)
    row = vr_scores(df).collect()[0]
    assert row.vr_raw == pytest.approx(80.0, abs=1e-9)


def test_rule_synergy_activation_and_cap(spark):
    rules = C.synergy_rules_df(spark)
    # all dims high → all 4 positive rules fire (+3+3+2.5+2.5=11),
    # negative rule does NOT fire (b >= threshold): total 11.
    high = spark.createDataFrame(
        [("c1", d, 90.0) for d in C.DIMENSIONS], "company_id string, dimension string, score double"
    )
    row = rule_synergy(high, rules).collect()[0]
    assert row.rule_synergy == pytest.approx(11.0)
    assert row.n_rules_fired == 4
    # use_case high + governance low → negative rule fires −3.
    mixed = spark.createDataFrame(
        [("c1", "use_case_portfolio", 90.0), ("c1", "ai_governance", 10.0)],
        "company_id string, dimension string, score double",
    )
    row = rule_synergy(mixed, rules).collect()[0]
    assert row.rule_synergy == pytest.approx(-3.0)


def test_formula_synergy_closed_form(spark):
    # Reference closed form (synergy.py:132-156): VR=80, HR=60 →
    # (80·60/100)·(1−0.2)·1.0 = 48·0.8 = 38.4
    row = _eval(
        spark,
        {"vr": 80.0, "hr": 60.0},
        syn=formula_synergy_sql("vr", "hr"),
        syn_clamped=formula_synergy_sql("vr", "hr", timing=1.5),
        syn_floored=formula_synergy_sql("vr", "hr", timing=0.5),
    )
    assert row.syn == pytest.approx(38.4)
    assert row.syn_clamped == pytest.approx(38.4 * 1.2 / 1.0)  # timing clamped to 1.2
    assert row.syn_floored == pytest.approx(38.4 * 0.8)  # timing clamped up to 0.8


def test_composite_closed_form(spark):
    # (1−β)(α·VR+(1−α)·HR)+β·Syn with α=.6 β=.12:
    # VR=80, HR=70, Syn=40 → 0.88·(48+28)+0.12·40 = 66.88+4.8 = 71.68
    row = _eval(
        spark, {"vr": 80.0, "hr": 70.0, "syn": 40.0}, c=composite_sql("vr", "hr", "syn")
    )
    assert row.c == pytest.approx(71.68)


@pytest.mark.parametrize(
    "score,band",
    [(5, "Nascent"), (20, "Nascent"), (20.1, "Developing"), (40, "Developing"),
     (55, "Progressing"), (61, "Advanced"), (80.5, "Leading"), (100, "Leading")],
)
def test_band_edges(spark, score, band):
    assert _eval(spark, {"score": score}, b=score_band_sql("score")).b == band


def test_hhi_concentrated_vs_uniform(spark):
    rows = [("c1", "eng")] * 10 + [("c2", f"f{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "company_id string, job_function string")
    got = {r.company_id: r.hhi for r in hhi(df).collect()}
    assert got["c1"] == pytest.approx(1.0)  # single function → HHI 1
    assert got["c2"] == pytest.approx(0.1)  # 10 uniform → 10·(1/10)² = 0.1


def test_hhi_penalty_tiers(spark):
    df = spark.createDataFrame(
        [(0.75, 20), (0.5, 20), (0.2, 20), (0.9, 5)], "h double, n int"
    )
    rows = df.selectExpr(f"{hhi_penalty_factor_sql('h', 'n')} AS f").collect()
    assert [r.f for r in rows] == [0.85, 0.95, 1.0, 1.0]  # below min sample → 1.0


def test_talent_risk_adjustment_monotone(spark):
    # monotone-inverse in TC (test_property_hypothesis.py:53-60)
    df = spark.createDataFrame([(t / 10.0,) for t in range(11)], "tc double")
    adj = df.selectExpr("tc", f"{talent_risk_adjustment_sql('tc')} AS adj")
    vals = [r.adj for r in adj.orderBy("tc").collect()]
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert vals[0] == 1.0 and vals[-1] == pytest.approx(1 - 0.15 * 0.75)


def test_hr_score_and_position_factor(spark):
    row = _eval(
        spark,
        {"hr_base": 80.0, "pf": 0.5, "vr": 90.0, "sector_avg": 70.0, "mcap": 0.95},
        hr=hr_score_sql("hr_base", "pf"),
        pf=position_factor_sql("vr", "sector_avg", "mcap"),
    )
    assert row.hr == pytest.approx(80 * 1.075)
    # 0.6·clamp(20/50)+0.4·clamp(0.9) = 0.6·0.4+0.4·0.9 = 0.6
    assert row.pf == pytest.approx(0.6)


def test_position_factor_saturates_far_below_sector(spark):
    # VR 80 points under the sector average: (−80/50) clamps to −1, so
    # a neutral market cap gives 0.6·(−1) = −0.6 and the bottom market
    # cap saturates the whole factor at −1.
    row = _eval(
        spark,
        {"vr": 10.0, "sector_avg": 90.0, "neutral": 0.5, "bottom": 0.0},
        pf_neutral=position_factor_sql("vr", "sector_avg", "neutral"),
        pf_bottom=position_factor_sql("vr", "sector_avg", "bottom"),
    )
    assert row.pf_neutral == pytest.approx(-0.6)
    assert row.pf_bottom == -1.0


def test_talent_and_rubric_closed_forms(spark):
    # TC: 0.4·0.5 + 0.3·min(1, 1/(√4+0.1)) + 0.2·(1−3/15) + 0.1·0.5
    # metric: 0.45·15/30 + 0.35·20/40 + 0.2·0.9 = 0.225+0.175+0.18
    # 6 hits at metric 0.58 miss L4 (metric 0.60) → L3: 55+15·min(1, 6/4)
    row = _eval(
        spark,
        {"lr": 0.5, "n": 4.0, "skills": 3.0, "ws": 15.0, "ev": 20.0, "rel": 0.9, "hits": 6.0},
        tc=talent_concentration_sql("lr", "n", "skills", "0.5D"),
        metric=quant_metric_sql("ws", "ev", "rel"),
    )
    assert row.tc == pytest.approx(0.2 + 0.3 / 2.1 + 0.2 * 0.8 + 0.05)
    assert row.metric == pytest.approx(0.58)
    rub = _eval(
        spark,
        {"hits": 6.0, "metric": row.metric},
        score=rubric_score_sql("hits", "metric"),
        conf=rubric_confidence_sql("hits", "metric"),
    )
    assert rub.score == pytest.approx(70.0)
    assert rub.conf == pytest.approx(min(0.95, 0.5 + 0.08 * 6 + 0.3 * 0.58))


def test_scalar_helpers(spark):
    row = (
        spark.range(1)
        .selectExpr(
            f"{clamp_sql('150.0D', 0, 100)} AS c1",
            f"{clamp_sql('-5.0D', 0, 100)} AS c2",
        )
        .collect()[0]
    )
    assert (row.c1, row.c2) == (100.0, 0.0)


def test_golden_portfolio_ranges(spark):
    """End-to-end over the reference's calibration fixture: composites
    computed from PORTFOLIO_PRIORS must land inside the golden ranges
    (reference tests/test_portfolio_validation.py:13-35).

    vr/hr/synergy are derived from the priors exactly like the
    reference's prior-dominated path: VR≈vr_target, HR from a
    neutral-sector base with pf_target, formula synergy."""
    rows = [(t, *v) for t, v in C.PORTFOLIO_PRIORS.items()]
    pri = spark.createDataFrame(
        rows, "ticker string, vr_target double, pf_target double, tc_target double, mcap_pct double"
    )
    scored = (
        pri.selectExpr(
            "ticker",
            "vr_target",
            f"{hr_score_sql('75.0D', 'pf_target')} AS hr",
            f"{talent_risk_adjustment_sql('tc_target')} AS adj",
        )
        .selectExpr("ticker", "hr", f"{clamp_sql('vr_target * adj', 0.0, 100.0)} AS vr")
        .selectExpr("*", f"{formula_synergy_sql('vr', 'hr')} AS syn")
        .selectExpr("ticker", f"{composite_sql('vr', 'hr', 'syn')} AS composite")
    )
    got = {r.ticker: r.composite for r in scored.collect()}
    for ticker, (lo, hi) in C.GOLDEN_RANGES.items():
        assert lo <= got[ticker] <= hi, f"{ticker}: {got[ticker]:.2f} not in [{lo},{hi}]"


def test_golden_portfolio_full_flagship_dag(spark):
    """The FULL flagship DAG (evidence → dimension scores → VR/CV/HHI
    → HR → synergy → composite + band) over a 5-ticker evidence
    fixture calibrated to the reference priors must reproduce the
    golden composite bands (reference portfolio_validation.py:10-16,
    tests/test_portfolio_validation.py:13-35).  Unlike the closed-form
    test above, every pipeline stage runs: if the composite math, CV
    penalty, HHI tiering, or banding drifts from the reference, this
    fails.

    Calibration: each company's evidence carries score_raw =
    vr_target on every dimension (⇒ VR raw = target, CV = 0 ⇒ no CV
    penalty), suppliers fully diversified (HHI = 1/21 < 0.40 with
    n = 21 ≥ 15 ⇒ factor 1.0), sector Services (hr_base = 75, the
    reference test's neutral base) and position_factor = pf_target."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.demo_domain import (
        dimension_scores_from,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.pipeline import (
        assemble_composite,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.talent import hhi
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.vr import vr_scores

    tickers = list(C.PORTFOLIO_PRIORS)
    cid = {t: i + 1 for i, t in enumerate(tickers)}
    ev_rows = [
        (cid[t], dim, vr_target, 0.9, (k * len(C.DEFAULT_DIM_WEIGHTS) + d_i) + 1)
        for t, (vr_target, _pf, _tc, _mc) in C.PORTFOLIO_PRIORS.items()
        for d_i, dim in enumerate(C.DEFAULT_DIM_WEIGHTS)
        for k in range(3)
    ]
    ev = spark.createDataFrame(
        ev_rows,
        "company_id long, dimension string, score_raw double, conf_raw double, supp_key long",
    )
    comp = spark.createDataFrame(
        [(cid[t], "Services", pf) for t, (_vr, pf, _tc, _mc) in C.PORTFOLIO_PRIORS.items()],
        "company_id long, sector string, position_factor double",
    )
    out = assemble_composite(
        vr_scores(dimension_scores_from(ev)),
        hhi(ev.select("company_id", "supp_key"), key="company_id", category="supp_key"),
        comp,
    )
    rows = {r.company_id: r for r in out.collect()}
    got = {t: rows[cid[t]] for t in tickers}
    for t, (lo, hi) in C.GOLDEN_RANGES.items():
        r = got[t]
        assert r.hhi_factor == 1.0 and r.n_items == 21, (t, r)
        assert lo <= r.composite_score <= hi, f"{t}: {r.composite_score} not in [{lo},{hi}]"
    # the priors impose a strict ordering the composite must preserve
    comps = [got[t].composite_score for t in ("NVDA", "JPM", "WMT", "GE", "DG")]
    assert comps == sorted(comps, reverse=True), comps


def test_round_stable_signed_values_match_oracle_formula(spark, duck):
    """round_stable_sql on NEGATIVE inputs: floor(x·10^s + 0.5)/10^s is
    round-half-toward-+inf (-0.5 → 0), NOT half-away-from-zero — and
    that is fine for parity because the oracle SQL spells the
    IDENTICAL formula (mom_revenue_growth growth ratios and the CUSUM
    family feed negatives through it).  Pin the signed behavior on
    both engines so nobody "fixes" one side into asymmetry."""
    vals = [-2.5e-7, -1.5e-7, -0.1234565, -0.9999995, -3.25, 0.0,
            2.5e-7, 0.1234565, 3.25, -123.4567894]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r.y
        for r in df.selectExpr(f"{round_stable_sql('x', 6)} AS y")
        .orderBy("x")
        .collect()
    ]
    sql_vals = ", ".join(f"({v!r})" for v in vals)
    want = [
        r[0]
        for r in duck.execute(
            f"SELECT floor(x * 1000000 + 0.5) / 1000000 AS y "
            f"FROM (VALUES {sql_vals}) t(x) ORDER BY x"
        ).fetchall()
    ]
    assert got == want
    # the documented asymmetry, explicitly: exact -0.5 ticks round UP
    one = spark.createDataFrame([(-2.5e-7,)], "x double").selectExpr(
        f"{round_stable_sql('x', 6)} AS y"
    ).collect()[0].y
    assert one == 0.0
