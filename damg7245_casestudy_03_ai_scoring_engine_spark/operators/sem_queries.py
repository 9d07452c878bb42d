"""SEM confidence-interval stack (SURVEY.md §2.3 J3/J4, §2.6 O5,
§2.9 M13–M15): training-row assembly, closed-form OLS with prediction
CIs, PCA one-factor loadings, and a deterministic bootstrap CI.

Reference: app/scoring_engine/sem_confidence.py — training rows come
from prior runs' org_air_scores joined to scoring_runs filtered by
model_version LIKE and capped at the most recent 50 (278–297); the
fit is standardize → PCA(k=1) → OLS y~η with prediction SE (35–182);
the fallback is a 400-resample bootstrap with a fixed seed (123–261).

Demo-domain mapping (replayed in the DuckDB oracles): `orders` plays
`scoring_runs` (run_id = o_orderkey, model_version derived from
o_orderkey % 3) and carries the historical composite
(o_totalprice % 100); `customer` plays `companies` (J4).

Determinism note: the reference uses seeded numpy RNG for the
bootstrap; RNG streams cannot match across engines, so resampling
here is a fixed linear-congruential pick `(17k + 31r + 7) mod n` —
same statistical shape (resample-with-replacement), bit-reproducible
on Spark AND DuckDB, so even the bootstrap is oracle-checked (the
reference only pins the seed for reproducibility, sem_confidence.py:128).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.core import clamp_sql, flit, round_stable_sql
from ..sources.catalog import DAY_NS, load
from .registry import register

_TRAIN_SQL = """
runs AS (
    SELECT o_orderkey AS run_id,
           o_custkey AS company_id,
           'v1.' || CAST(o_orderkey % 3 AS VARCHAR) || '.0' AS model_version,
           CAST(o_orderdate AS DATE) AS scored_date,
           CAST(o_totalprice AS DOUBLE) % 100.0 AS composite
    FROM orders
),
train AS (
    SELECT r.run_id, r.company_id, r.scored_date, r.composite,
           CASE c.c_mktsegment
             WHEN 'AUTOMOBILE' THEN 'Industrials'
             WHEN 'BUILDING' THEN 'Financial'
             WHEN 'FURNITURE' THEN 'Consumer'
             WHEN 'HOUSEHOLD' THEN 'Services'
             WHEN 'MACHINERY' THEN 'Healthcare'
             ELSE 'Services'
           END AS sector,
           CAST(c.c_acctbal AS DOUBLE) / 1000.0 AS x
    FROM runs r
    JOIN customer c ON r.company_id = c.c_custkey
    WHERE r.model_version LIKE 'v1.0%'
      AND r.company_id <> 1
)"""


def training_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (scores ⋈ runs on run id) + LIKE-prefix model-version filter
    (P7) + self-company exclusion + J4 (⋈ companies for sector).
    run_id/company_id/scored_date/composite/sector/x."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    runs = o.select(
        F.col("o_orderkey").alias("run_id"),
        F.col("o_custkey").alias("company_id"),
        F.concat(F.lit("v1."), (F.col("o_orderkey") % 3).cast("string"), F.lit(".0")).alias(
            "model_version"
        ),
        F.col("o_orderdate").cast("date").alias("scored_date"),
        (F.col("o_totalprice").cast("double") % 100.0).alias("composite"),
    )
    sector = (
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", "Industrials")
        .when(F.col("c_mktsegment") == "BUILDING", "Financial")
        .when(F.col("c_mktsegment") == "FURNITURE", "Consumer")
        .when(F.col("c_mktsegment") == "HOUSEHOLD", "Services")
        .when(F.col("c_mktsegment") == "MACHINERY", "Healthcare")
        .otherwise("Services")
    )
    comp = c.select(
        F.col("c_custkey").alias("company_id"),
        sector.alias("sector"),
        (F.col("c_acctbal").cast("double") / 1000.0).alias("x"),
    )
    return (
        runs.filter(F.col("model_version").startswith("v1.0"))
        .filter(F.col("company_id") != 1)
        .join(comp, "company_id")
        .select("run_id", "company_id", "scored_date", "composite", "sector", "x")
    )


@register(
    "sem_training_rows",
    survey="J3,J4,O5,P7",
    oracle=f"""
WITH {_TRAIN_SQL.lstrip()}
SELECT run_id, company_id, sector, scored_date, round(composite, 6) AS composite
FROM train
ORDER BY scored_date DESC, run_id DESC
LIMIT 50
""",
)
def sem_training_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: the most recent ≤50 training rows with a deterministic
    (scored_date, run_id) total order — reference
    sem_confidence.py:278-297's `ORDER BY scored_at DESC LIMIT 50`.
    Spark plans this as TakeOrderedAndProject (top-k, no full sort)."""
    t = training_rows(spark, sf_dir)
    return (
        t.orderBy(F.desc("scored_date"), F.desc("run_id"))
        .limit(50)
        .select(
            "run_id",
            "company_id",
            "sector",
            "scored_date",
            F.round("composite", 6).alias("composite"),
        )
    )


@register(
    "sem_ols_ci",
    survey="M14,A18,F10",
    oracle=f"""
WITH {_TRAIN_SQL.lstrip()},
s AS (
    SELECT sector,
           count(*) AS n,
           avg(x) AS x_bar, avg(composite) AS y_bar,
           covar_pop(x, composite) AS sxy,
           var_pop(x) AS sxx, var_pop(composite) AS syy
    FROM train
    GROUP BY sector
),
fit AS (
    SELECT sector, n, x_bar, y_bar,
           CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0.0 END AS slope,
           CASE WHEN sxx > 0 AND syy > 0 THEN (sxy * sxy) / (sxx * syy) ELSE 0.0 END AS r2,
           CASE WHEN n > 2 THEN sqrt(greatest(n * (syy - CASE WHEN sxx > 0 THEN sxy * sxy / sxx ELSE 0.0 END), 0.0) / (n - 2))
                ELSE 0.0 END AS sigma
    FROM s
)
SELECT sector, n,
       round(slope, 6) AS slope,
       round(y_bar - slope * x_bar, 6) AS intercept,
       round(r2, 6) AS r2,
       round(sigma, 6) AS sigma,
       round(least(greatest(y_bar - 1.96 * sigma / sqrt(n), 0.0), 100.0), 6) AS ci_lower,
       round(least(greatest(y_bar + 1.96 * sigma / sqrt(n), 0.0), 100.0), 6) AS ci_upper
FROM fit
""",
)
def sem_ols_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14: closed-form OLS y~x per sector — slope = Sxy/Sxx,
    residual σ with ddof 2, R², and the 95% CI of the mean prediction
    at x̄ (SE = σ/√n, z = 1.96, clamp [0,100]) — reference
    sem_confidence.py:68-182 re-expressed as covar_pop/var_pop
    aggregates (one partial-agg-friendly shuffle; no driver math)."""
    t = training_rows(spark, sf_dir)
    s = t.groupBy("sector").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("x_bar"),
        F.avg("composite").alias("y_bar"),
        F.covar_pop("x", "composite").alias("sxy"),
        F.var_pop("x").alias("sxx"),
        F.var_pop("composite").alias("syy"),
    )
    slope = F.when(F.col("sxx") > 0, F.col("sxy") / F.col("sxx")).otherwise(F.lit(0.0))
    s = s.withColumn("slope", slope)
    r2 = F.when(
        (F.col("sxx") > 0) & (F.col("syy") > 0),
        (F.col("sxy") * F.col("sxy")) / (F.col("sxx") * F.col("syy")),
    ).otherwise(F.lit(0.0))
    sse = F.greatest(
        F.col("n") * (F.col("syy") - F.col("slope") * F.col("sxy")), F.lit(0.0)
    )
    sigma = F.when(F.col("n") > 2, F.sqrt(sse / (F.col("n") - 2))).otherwise(F.lit(0.0))
    s = s.withColumn("sigma", sigma)
    se = "sigma / sqrt(n) * 1.96D"
    return s.select(
        "sector",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round(F.col("y_bar") - F.col("slope") * F.col("x_bar"), 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        F.round("sigma", 6).alias("sigma"),
        F.expr(f"round({clamp_sql(f'y_bar - {se}', 0.0, 100.0)}, 6)").alias("ci_lower"),
        F.expr(f"round({clamp_sql(f'y_bar + {se}', 0.0, 100.0)}, 6)").alias("ci_upper"),
    )


def _pca_eta_oracle() -> str:
    """DuckDB oracle for M13 — the SAME fixed-200-iteration power
    method the Spark implementation runs, spelled as a recursive CTE
    over a 49-element correlation list (matrix-vector products via
    nested list_transform lambdas; per-step L2 normalization with the
    same zero-norm guard).  Eigen-decomposition per se is not portable
    SQL, but a FIXED finite iteration is engine-replayable: both sides
    iterate matrices that differ only in final-ulp corr aggregates, so
    the iterates track to ~1e-13 and the 4dp floor-round output is
    identical (verified empirically at sf0.01/sf0.1: 0 mismatches,
    worst value ≥ 3.7e-9 from a rounding boundary — a ~1e4 safety
    factor over the cross-engine delta).  tests/test_mllib_parity.py
    still pins the Spark side exactly against numpy eigh."""
    from .scoring_queries import _DS_SQL, _EV_SQL

    dims = [
        "data_infrastructure", "ai_governance", "technology_stack",
        "talent_skills", "leadership_vision", "use_case_portfolio",
        "culture_change",
    ]
    k = len(dims)
    piv_cols = ",\n           ".join(
        f"max(CASE WHEN dimension = '{d}' THEN score END) AS d{i + 1}"
        for i, d in enumerate(dims)
    )
    mom_cols = ",\n           ".join(
        [f"avg(d{i + 1}) AS mu{i + 1}, stddev_pop(d{i + 1}) AS sd{i + 1}"
         for i in range(k)]
        + [f"coalesce(corr(d{i + 1}, d{j + 1}), 0.0) AS r{i + 1}_{j + 1}"
           for i in range(k) for j in range(i + 1, k)]
    )

    def rname(i: int, j: int) -> str:
        if i == j:
            return "1.0"
        a, b = min(i, j), max(i, j)
        return f"r{a}_{b}"

    cl = ", ".join(rname(i + 1, j + 1) for i in range(k) for j in range(k))
    eta_terms = " + ".join(
        f"(ld.av[{i + 1}] / ld.tot) * (p.d{i + 1} - m.mu{i + 1})"
        f" / (CASE WHEN m.sd{i + 1} IS NULL OR m.sd{i + 1} = 0"
        f" THEN 1.0 ELSE m.sd{i + 1} END)"
        for i in range(k)
    )
    ones = ", ".join(["1.0"] * k)
    return f"""
WITH RECURSIVE {_EV_SQL.lstrip()},
{_DS_SQL.lstrip()},
piv AS (
    SELECT company_id,
           {piv_cols}
    FROM ds GROUP BY company_id
),
mom AS (
    SELECT {mom_cols}
    FROM piv
),
cm AS (SELECT [{cl}]::DOUBLE[] AS cl FROM mom),
pm AS (
    SELECT 0 AS it, [{ones}]::DOUBLE[] AS v
    UNION ALL
    SELECT it + 1,
           list_transform(nv, x -> x / (
               CASE WHEN sqrt(list_sum(list_transform(nv, y -> y * y))) = 0
                    THEN 1.0
                    ELSE sqrt(list_sum(list_transform(nv, y -> y * y))) END))
    FROM (
        SELECT pm.it AS it,
               list_transform(range(1, {k + 1}),
                   i -> list_sum(list_transform(range(1, {k + 1}),
                        j -> cm.cl[(i - 1) * {k} + j] * pm.v[j]))) AS nv
        FROM pm, cm
        WHERE pm.it < 200
    ) t
),
ld AS (
    SELECT list_transform(v, x -> abs(x)) AS av,
           CASE WHEN list_sum(list_transform(v, x -> abs(x))) = 0 THEN 1.0
                ELSE list_sum(list_transform(v, x -> abs(x))) END AS tot
    FROM pm WHERE it = 200
)
SELECT p.company_id,
       floor(({eta_terms}) * 1e4 + 0.5) / 1e4 AS eta
FROM piv p, mom m, ld
"""


@register(
    "pca_one_factor_eta",
    survey="M13",
    oracle=_pca_eta_oracle(),
)
def pca_one_factor_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13: one-factor PCA loadings — per-dimension z-scores, 7×7
    correlation matrix computed DISTRIBUTED via `corr` aggregates,
    top eigenvector by deterministic power iteration on the collected
    7×7 (49 numbers — the only driver-side step), |loadings|
    normalized to Σ=1, then η = Σ l_d·z_d as pure column math
    (reference sem_confidence.py:35-65,113-120), floor-rounded 4dp
    (round_stable_sql) so the recursive-CTE power-method oracle — the
    same 200 fixed iterations replayed in DuckDB — lands bit-identical
    (see _pca_eta_oracle; exact numpy parity stays pinned in
    tests/test_mllib_parity.py).  At 100 TB the scan
    and the corr aggregation stay fully distributed; only the 7×7
    matrix ever reaches the driver."""
    from itertools import combinations

    from ..scoring import config as C
    from ..scoring.demo_domain import dimension_scores

    from ..functions.cache import tracked_persist

    ds = dimension_scores(spark, sf_dir).select("company_id", "dimension", "score")
    dims = list(C.DIMENSIONS)
    # Persisted (r13, guide §5): the stats-collect below and the final
    # η projection both consume this pivot — without it the whole
    # dimension_scores DAG + pivot ran twice per invocation.
    pivoted = tracked_persist(
        ds.groupBy("company_id").pivot("dimension", dims).agg(F.max("score")),
        "pca_one_factor.pivoted",
    )

    # Distributed moments + pairwise correlations (one aggregation).
    aggs = []
    for d in dims:
        aggs += [F.avg(d).alias(f"mu_{d}"), F.stddev_pop(d).alias(f"sd_{d}")]
    for a, b in combinations(dims, 2):
        aggs.append(F.coalesce(F.corr(a, b), F.lit(0.0)).alias(f"r_{a}__{b}"))
    stats = pivoted.agg(*aggs).collect()[0].asDict()

    k = len(dims)
    corr = [[1.0] * k for _ in range(k)]
    for i, a in enumerate(dims):
        for j, b in enumerate(dims):
            if i < j:
                corr[i][j] = corr[j][i] = stats[f"r_{a}__{b}"]
    # Deterministic power iteration (no RNG, fixed start, fixed iters).
    v = [1.0] * k
    for _ in range(200):
        nv = [sum(corr[i][j] * v[j] for j in range(k)) for i in range(k)]
        norm = sum(x * x for x in nv) ** 0.5 or 1.0
        v = [x / norm for x in nv]
    loadings = [abs(x) for x in v]
    total = sum(loadings) or 1.0
    loadings = [x / total for x in loadings]

    eta = " + ".join(
        f"{flit(l)} * (({d} - {flit(stats[f'mu_{d}'])}) / {flit(stats[f'sd_{d}'] or 1.0)})"
        for d, l in zip(dims, loadings)
    )
    return pivoted.selectExpr(
        "company_id", f"{round_stable_sql(f'({eta})', 4)} AS eta"
    ).orderBy("company_id")


@register(
    "sem_bootstrap_ci",
    survey="M15,O5",
    oracle=f"""
WITH {_TRAIN_SQL.lstrip()},
capped AS (
    SELECT composite,
           CAST(row_number() OVER (ORDER BY scored_date DESC, run_id DESC) AS BIGINT) - 1 AS idx
    FROM train
    ORDER BY scored_date DESC, run_id DESC
    LIMIT 50
),
sized AS (SELECT *, (SELECT count(*) FROM capped) AS n FROM capped),
picks AS (
    SELECT g.k, s.idx AS r, (17 * g.k + 31 * s.idx + 7) % s.n AS src
    FROM generate_series(0, 399) g(k)
    CROSS JOIN sized s
),
resampled AS (
    SELECT p.k, c.composite
    FROM picks p JOIN capped c ON p.src = c.idx
),
boot AS (
    SELECT k, avg(composite) AS mean_composite
    FROM resampled GROUP BY k
)
SELECT count(*) AS n_resamples,
       round(avg(mean_composite), 6) AS boot_mean,
       round(stddev_samp(mean_composite), 6) AS boot_se,
       round(quantile_cont(mean_composite, 0.025), 6) AS ci_lower,
       round(quantile_cont(mean_composite, 0.975), 6) AS ci_upper
FROM boot
""",
)
def sem_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15: bootstrap CI over the capped training set — 400 resamples
    of size n, percentile CI (2.5/97.5) and SE = std of resample means
    (reference sem_confidence.py:123-261).  Resampling is the
    deterministic LCG pick (17k+31r+7) mod n so Spark and the DuckDB
    oracle draw identical resamples; the reference's seed-42 numpy
    stream serves the same reproducibility goal."""
    from ..functions.cache import tracked_persist

    t = sem_training_rows(spark, sf_dir).select("scored_date", "run_id", "composite")
    w = Window.orderBy(F.desc("scored_date"), F.desc("run_id"))
    # Persisted (r13, guide §5): three consumers — the n scalar, the
    # crossJoin index frame and the broadcast composite lookup — each
    # otherwise re-ran the whole sem_training_rows DAG + global window.
    capped = tracked_persist(
        t.withColumn("idx", F.row_number().over(w).cast("bigint") - 1),
        "sem_bootstrap.capped",
    )
    n = capped.count()
    reps = spark.range(400).select(F.col("id").alias("k"))
    picks = reps.crossJoin(capped.select("idx")).select(
        "k", ((17 * F.col("k") + 31 * F.col("idx") + 7) % n).alias("src")
    )
    resampled = picks.join(
        F.broadcast(capped.select("idx", "composite")), picks.src == F.col("idx")
    ).select("k", "composite")
    boot = resampled.groupBy("k").agg(F.avg("composite").alias("mean_composite"))
    return boot.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.avg("mean_composite"), 6).alias("boot_mean"),
        F.round(F.stddev_samp("mean_composite"), 6).alias("boot_se"),
        F.round(F.percentile("mean_composite", F.lit(0.025)), 6).alias("ci_lower"),
        F.round(F.percentile("mean_composite", F.lit(0.975)), 6).alias("ci_upper"),
    )


@register(
    "ab_test_chi2",
    survey="M14-adjacent (extension: 2x2 chi-square contingency test per segment)",
    oracle="""
WITH cells AS (
    SELECT event_type,
           CAST(sum(CASE WHEN user_id % 2 = 0 AND value >= 34.0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN user_id % 2 = 0 AND value <  34.0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(sum(CASE WHEN user_id % 2 = 1 AND value >= 34.0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(sum(CASE WHEN user_id % 2 = 1 AND value <  34.0 THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM events GROUP BY event_type
)
SELECT event_type,
       a AS control_success, b AS control_fail,
       c AS treat_success, d AS treat_fail,
       CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0
            THEN floor(
                ((CAST(a + b + c + d AS DOUBLE)
                  * CAST(a * d - b * c AS DOUBLE))
                 * CAST(a * d - b * c AS DOUBLE))
                / (((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
                    * CAST(a + c AS DOUBLE)) * CAST(b + d AS DOUBLE))
                * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS chi2
FROM cells
""",
)
def ab_test_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment 2x2 chi-square test of independence for an A/B
    experiment: users are deterministically bucketed by key parity
    (the salted-hash assignment a real experiment platform uses),
    "success" is a fixed value threshold, and each event_type segment
    gets its contingency table plus the chi-square statistic — the
    experiment-analysis primitive (guardrail/exposure checks) absent
    from the OLS/bootstrap family.

    Numerics: the 2x2 statistic has the closed form
    N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)); all cells and the (ad−bc)
    determinant are exact int64, the final value is ONE fixed-order
    double expression through round_stable_sql(6) with a zero-margin
    guard (identically spelled in the oracle).  Cell products hold in
    int64 to ~3e9 events per segment; past that the determinant must
    move to a wider EXACT integer carrier matched on both engines
    (e.g. split the product into high/low int64 limbs, or a
    decimal(38,0) that BOTH the Spark schema and the DuckDB DESCRIBE
    agree on — the type-class lint in tests/test_oracle_parity.py
    enforces the match; a one-sided decimal hash-diverges in the
    driver comparator, which is why the revenue queries use int64
    cents).

    Scale shape: a single map-side-combinable groupBy over the fact —
    four conditional counts, no join, no window.
    """
    e = load(spark, sf_dir, "events", fan_out=True)
    is_ctrl = (F.col("user_id") % 2) == 0
    is_succ = F.col("value") >= 34.0
    cells = e.groupBy("event_type").agg(
        F.sum((is_ctrl & is_succ).cast("long")).alias("a"),
        F.sum((is_ctrl & ~is_succ).cast("long")).alias("b"),
        F.sum((~is_ctrl & is_succ).cast("long")).alias("c"),
        F.sum((~is_ctrl & ~is_succ).cast("long")).alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    det = "CAST(a * d - b * c AS DOUBLE)"
    den = (
        "(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
        " * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"
    )
    margin_ok = ((a + b) > 0) & ((c + d) > 0) & ((a + c) > 0) & ((b + d) > 0)
    chi2 = F.when(
        margin_ok,
        F.expr(round_stable_sql(f"(CAST(a + b + c + d AS DOUBLE) * {det} * {det} / {den})", 6)),
    ).otherwise(F.lit(0.0))
    return cells.select(
        "event_type",
        a.alias("control_success"),
        b.alias("control_fail"),
        c.alias("treat_success"),
        d.alias("treat_fail"),
        chi2.alias("chi2"),
    )


_DRIFT_BUCKET_W = 50  # fixed-width value buckets (value range ~[0, 500))


@register(
    "drift_chi2_value_buckets",
    survey="M14-adjacent (extension: cross-period distribution-drift chi-square)",
    oracle=f"""
WITH span AS (
    SELECT min(epoch_ns(ts) // {DAY_NS}) AS dlo,
           max(epoch_ns(ts) // {DAY_NS}) AS dhi
    FROM events
),
cells AS (
    SELECT event_type,
           CASE WHEN epoch_ns(ts) // {DAY_NS}
                     <= (SELECT (dlo + dhi) // 2 FROM span)
                THEN 0 ELSE 1 END AS period,
           least(CAST(floor(value / {_DRIFT_BUCKET_W}) AS BIGINT), 9) AS bucket,
           CAST(count(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2, 3
),
m AS (
    SELECT event_type, period, bucket, o,
           CAST(sum(o) OVER (PARTITION BY event_type, period) AS BIGINT) AS r,
           CAST(sum(o) OVER (PARTITION BY event_type, bucket) AS BIGINT) AS c,
           CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM cells
),
t AS (
    SELECT event_type, n,
           CAST(n * o - r * c AS BIGINT) AS num,
           CAST(n AS BIGINT) * r * c AS den,
           period, bucket
    FROM m
),
folded AS (
    SELECT event_type, any_value(n) AS n,
           CAST(count(*) AS BIGINT) AS n_cells,
           list(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                ORDER BY period, bucket) AS terms
    FROM t GROUP BY event_type
)
SELECT event_type, n AS n_events, n_cells,
       floor(list_reduce(terms, (a, b) -> a + b) * 1000000 + 0.5) / 1000000
           AS drift_chi2
FROM folded
""",
)
def drift_chi2_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift chi-square per event type: the value
    distribution (10 fixed-width buckets) of the observation window's
    first half tested against its second half — the model-monitoring
    primitive a scoring platform runs before trusting a score batch
    (PSI's chi-square cousin, chosen because it needs NO logarithm —
    ln is not correctly-rounded in libm and would break cross-engine
    parity; chi-square is exact-moment arithmetic).

    Numerics: contingency cells, margins, and each cell's
    (N·O − r·c)² numerator and N·r·c denominator are exact int64
    (int64 carrier holds to ~1e5 events/type-period at these widths;
    beyond that the decimal(38,0) pattern applies); per-cell terms
    are single IEEE divisions, and the ≤20-term sum is folded in
    (period, bucket) order on BOTH engines (sorted-collect +
    add-reduce, the established bit-identical fold contract) instead
    of an order-unstable SUM().

    Scale shape: one map-side groupBy to the (type, period, bucket)
    grain, three margin windows sharing the type partitioning, and a
    20-row-per-type fold.
    """
    e = load(spark, sf_dir, "events", fan_out=True)
    span = e.agg(
        F.min(F.expr(f"ts div {DAY_NS}")).alias("dlo"),
        F.max(F.expr(f"ts div {DAY_NS}")).alias("dhi"),
    ).select(F.expr("(dlo + dhi) div 2").alias("dmid"))
    cells = (
        e.crossJoin(F.broadcast(span))
        .groupBy(
            "event_type",
            F.when(F.expr(f"ts div {DAY_NS}") <= F.col("dmid"), 0)
            .otherwise(1)
            .alias("period"),
            F.least(
                F.floor(F.col("value") / _DRIFT_BUCKET_W).cast("long"),
                F.lit(9),
            ).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    m = (
        cells.withColumn(
            "r",
            F.sum("o").over(Window.partitionBy("event_type", "period")),
        )
        .withColumn(
            "c",
            F.sum("o").over(Window.partitionBy("event_type", "bucket")),
        )
        .withColumn("n", F.sum("o").over(Window.partitionBy("event_type")))
    )
    num = (F.col("n") * F.col("o") - F.col("r") * F.col("c")).cast("long")
    den = F.col("n") * F.col("r") * F.col("c")
    t = m.select(
        "event_type",
        "n",
        "period",
        "bucket",
        (num.cast("double") * num.cast("double") / den.cast("double")).alias(
            "term"
        ),
    )
    folded = t.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.array_sort(
            F.collect_list(F.struct("period", "bucket", "term"))
        ).alias("cells"),
    )
    terms = F.transform(F.col("cells"), lambda x: x["term"])
    chi2 = F.aggregate(
        F.slice(terms, 2, F.size(terms) - 1),
        F.element_at(terms, 1),
        lambda a, b: a + b,
    )
    return folded.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("n_cells").cast("long").alias("n_cells"),
        chi2.alias("drift_chi2"),
    ).withColumn("drift_chi2", F.expr(round_stable_sql("drift_chi2", 6)))


@register(
    "calibration_reliability_bins",
    survey="M14-adjacent (extension: reliability-diagram calibration bins)",
    oracle="""
WITH scored AS (
    SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin,
           CAST(least(floor(value / 500.0 * 10000 + 0.5), 10000) AS BIGINT) AS conf_q4,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
    FROM events
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_positive,
       CAST(sum(conf_q4) AS BIGINT) AS conf_sum_q4,
       floor(CAST(sum(conf_q4) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 10000
             * 1000000 + 0.5) / 1000000 AS mean_confidence,
       floor(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS actual_rate
FROM scored GROUP BY bin
""",
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: events bucketed by a derived
    confidence score (value scaled to [0,1], quantized to 1e-4) with
    per-bin mean confidence vs actual positive rate — the calibration
    audit every scoring pipeline runs next to the drift gate (a
    well-calibrated score has mean_confidence ≈ actual_rate per bin;
    the gap per bin is the ECE integrand).

    Exact int64 carriers throughout (count, positives, quantized
    confidence sum) with two guarded round_stable_sql divisions for the
    display columns.  ONE map-side-combinable groupBy over the fact —
    no join, no window: the cheapest possible monitoring scan.
    """
    scored = load(spark, sf_dir, "events", fan_out=True).select(
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)
        ).alias("bin"),
        F.least(
            F.floor(F.col("value") / F.lit(500.0) * 10000 + F.lit(0.5)),
            F.lit(10000),
        )
        .cast("long")
        .alias("conf_q4"),
        F.col("event_type").isin("purchase", "signup").cast("long").alias("y"),
    )
    g = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_positive"),
        F.sum("conf_q4").alias("conf_sum_q4"),
    )
    return g.selectExpr(
        "bin",
        "n",
        "n_positive",
        "conf_sum_q4",
        round_stable_sql("CAST(conf_sum_q4 AS DOUBLE) / CAST(n AS DOUBLE) / 10000", 6)
        + " AS mean_confidence",
        round_stable_sql("CAST(n_positive AS DOUBLE) / CAST(n AS DOUBLE)", 6) + " AS actual_rate",
    )


@register(
    "auc_value_score",
    survey="M14-adjacent (extension: exact rank-statistic ROC AUC)",
    oracle="""
WITH s AS (
    SELECT value AS score,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
    FROM events
),
rk AS (
    SELECT y,
           CAST(2 * rank() OVER (ORDER BY score)
                + count(*) OVER (PARTITION BY score) - 1 AS BIGINT) AS mid2
    FROM s
),
agg AS (
    SELECT CAST(sum(y) AS BIGINT) AS m,
           CAST(count(*) - sum(y) AS BIGINT) AS neg,
           CAST(sum(CASE WHEN y = 1 THEN mid2 ELSE 0 END) AS BIGINT) AS s2
    FROM rk
)
SELECT m AS n_positive, neg AS n_negative,
       CAST(s2 - m * (m + 1) AS BIGINT) AS auc_num,
       CAST(2 * m * neg AS BIGINT) AS auc_den,
       floor(CAST(s2 - m * (m + 1) AS DOUBLE) / CAST(2 * m * neg AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS auc
FROM agg
""",
)
def auc_value_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the value score separating conversion events
    (purchase/signup) from the rest, via the Mann-Whitney rank
    statistic: AUC = (Σ_pos midrank − m(m+1)/2) / (m·n).  Ties get
    midranks, kept INTEGER by carrying 2·midrank = 2·min_rank +
    tie_count − 1, so the numerator and denominator are exact int64
    and the display value is one round_stable_sql division — no
    trapezoid sweep, no float ranks, bit-stable cross-engine.

    Scale shape: one global rank sort (the same RangePartitioning
    class as any global order-by; at 100 TB this is the sort-based
    rank the engine already does for top-k reports) + one tie-count
    window sharing the sort, then a scalar aggregate.
    """
    s = load(spark, sf_dir, "events", fan_out=True).select(
        F.col("value").alias("score"),
        F.col("event_type").isin("purchase", "signup").cast("long").alias("y"),
    )
    rk = s.select(
        "y",
        (
            F.lit(2) * F.rank().over(Window.orderBy("score"))
            + F.count(F.lit(1)).over(Window.partitionBy("score"))
            - 1
        )
        .cast("long")
        .alias("mid2"),
    )
    agg = rk.agg(
        F.sum("y").alias("m"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        F.sum(F.when(F.col("y") == 1, F.col("mid2")).otherwise(0)).alias("s2"),
    )
    num = "CAST(s2 - m * (m + 1) AS BIGINT)"
    den = "CAST(2 * m * neg AS BIGINT)"
    return agg.selectExpr(
        "m AS n_positive",
        "neg AS n_negative",
        f"{num} AS auc_num",
        f"{den} AS auc_den",
        round_stable_sql(f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)", 6) + " AS auc",
    )


@register(
    "pr_curve_thresholds",
    survey="M14-adjacent,W5 (extension: precision/recall threshold sweep)",
    oracle="""
WITH s AS (
    SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
    FROM events
),
b AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
    FROM s GROUP BY bucket
),
c AS (
    SELECT bucket,
           CAST(sum(n) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS pred_pos,
           CAST(sum(pos) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS tp,
           CAST(sum(pos) OVER () AS BIGINT) AS all_pos
    FROM b
)
SELECT bucket AS threshold_bucket, pred_pos, tp, all_pos,
       floor(CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS precision_at,
       floor(CAST(tp AS DOUBLE) / CAST(all_pos AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS recall_at
FROM c
""",
)
def pr_curve_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall at every score-bucket threshold ("predict
    positive when score ≥ bucket boundary"): reverse-cumulative TP
    and predicted-positive counts over the 10-bucket grain give the
    whole operating curve in one pass — the threshold-picking table
    that accompanies the AUC scalar and the calibration bins.

    Exact int64 counts at every threshold; precision/recall are
    guarded round_stable_sql divisions.  Scale shape: one map-side
    groupBy to the bucket grain, then two windows over ≤10 rows.
    """
    s = load(spark, sf_dir, "events", fan_out=True).select(
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)
        ).alias("bucket"),
        F.col("event_type").isin("purchase", "signup").cast("long").alias("y"),
    )
    b = s.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    rev = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        b.withColumn("pred_pos", F.sum("n").over(rev))
        .withColumn("tp", F.sum("pos").over(rev))
        .withColumn(
            "all_pos",
            F.sum("pos").over(
                Window.partitionBy()
            ),
        )
    )
    return c.select(
        F.col("bucket").alias("threshold_bucket"),
        "pred_pos",
        "tp",
        "all_pos",
        F.expr(round_stable_sql("CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE)", 6)).alias(
            "precision_at"
        ),
        F.expr(round_stable_sql("CAST(tp AS DOUBLE) / CAST(all_pos AS DOUBLE)", 6)).alias(
            "recall_at"
        ),
    )


@register(
    "cuped_adjusted_lift",
    survey="M14-adjacent (extension: CUPED variance-reduced A/B means)",
    oracle=f"""
WITH span AS (
    SELECT min(epoch_ns(ts) // {DAY_NS}) AS dlo,
           max(epoch_ns(ts) // {DAY_NS}) AS dhi
    FROM events
),
per_user AS (
    SELECT user_id,
           CAST(user_id % 2 AS BIGINT) AS variant,
           CAST(sum(CASE WHEN epoch_ns(ts) // {DAY_NS}
                              <= (SELECT (dlo + dhi) // 2 FROM span)
                         THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN epoch_ns(ts) // {DAY_NS}
                              > (SELECT (dlo + dhi) // 2 FROM span)
                         THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY 1
),
pooled AS (
    SELECT CAST(count(*) AS BIGINT) AS nn,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
    FROM per_user
),
v AS (
    SELECT variant, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS vx, CAST(sum(y) AS BIGINT) AS vy
    FROM per_user GROUP BY 1
)
SELECT v.variant, v.n, v.vx AS x_sum_q2, v.vy AS y_sum_q2,
       CASE WHEN p.nn * p.sxx - p.sx * p.sx > 0
            THEN floor((CAST(p.nn AS DOUBLE) * CAST(p.sxy AS DOUBLE)
                        - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
                       / (CAST(p.nn AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                          - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE))
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS theta,
       floor((CAST(v.vy AS DOUBLE) / CAST(v.n AS DOUBLE)
              - (CASE WHEN p.nn * p.sxx - p.sx * p.sx > 0
                      THEN floor((CAST(p.nn AS DOUBLE) * CAST(p.sxy AS DOUBLE)
                                  - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
                                 / (CAST(p.nn AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                                    - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE))
                                 * 1000000 + 0.5) / 1000000
                      ELSE 0.0 END)
                * (CAST(v.vx AS DOUBLE) / CAST(v.n AS DOUBLE)
                   - CAST(p.sx AS DOUBLE) / CAST(p.nn AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS adjusted_mean_q2
FROM v, pooled p
""",
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the parity-split experiment:
    each user's FIRST-half activity (exact cents) is the pre-experiment covariate,
    the SECOND half the metric; the pooled regression coefficient
    θ = cov(x,y)/var(x) comes from exact int64 moments, and each
    variant's adjusted mean ȳ_v − θ(x̄_v − x̄) is one fixed-order
    double expression over exact integer carriers — the modern
    experimentation readout that shrinks metric variance using
    pre-period behaviour without biasing the lift.  θ is rounded
    through the same round_stable_sql(6) formula BEFORE use on both
    engines, so the adjusted means are bit-identical by
    construction.

    Scale shape: one user-grain conditional aggregate over the fact
    (broadcast scalar split day), then 2-row variant totals × a
    1-row pooled frame.
    """
    e = load(spark, sf_dir, "events", fan_out=True)
    span = e.agg(
        F.expr(f"(min(ts div {DAY_NS}) + max(ts div {DAY_NS})) div 2").alias("dmid")
    )
    vq = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per_user = (
        e.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.expr(f"ts div {DAY_NS}") <= F.col("dmid"), vq).otherwise(
                    0
                )
            ).alias("x"),
            F.sum(
                F.when(F.expr(f"ts div {DAY_NS}") > F.col("dmid"), vq).otherwise(0)
            ).alias("y"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("long"))
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("vx"),
        F.sum("y").alias("vy"),
    )
    j = v.crossJoin(F.broadcast(pooled))
    theta_r = round_stable_sql(
        "((CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))",
        6,
    )
    theta = f"CASE WHEN CAST(nn * sxx - sx * sx AS BIGINT) > 0 THEN {theta_r} ELSE 0.0D END"
    adj = round_stable_sql(
        f"(CAST(vy AS DOUBLE) / CAST(n AS DOUBLE) - ({theta}) * (CAST(vx AS DOUBLE)"
        " / CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(nn AS DOUBLE)))",
        6,
    )
    return j.selectExpr(
        "variant",
        "n",
        "vx AS x_sum_q2",
        "vy AS y_sum_q2",
        f"{theta} AS theta",
        f"{adj} AS adjusted_mean_q2",
    )


@register(
    "ab_power_mde",
    survey="M14-adjacent (extension: A/B minimum detectable effect)",
    oracle="""
WITH q AS (
    SELECT event_type,
           CAST(user_id % 2 AS BIGINT) AS variant,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq
    FROM events
),
s AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vq) AS BIGINT) AS s1,
           CAST(sum(vq * vq) AS BIGINT) AS s2,
           CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
    FROM q GROUP BY 1
)
SELECT event_type, n0 AS n_control, n1 AS n_treatment,
       CAST(n * s2 - s1 * s1 AS BIGINT) AS var_num,
       CAST(n * (n - 1) AS BIGINT) AS var_den,
       CASE WHEN n >= 2 AND n0 > 0 AND n1 > 0 AND n * s2 - s1 * s1 > 0
            THEN floor(2.8016 * sqrt((CAST(n * s2 - s1 * s1 AS DOUBLE)
                                      / CAST(n * (n - 1) AS DOUBLE))
                                     * (1.0 / CAST(n0 AS DOUBLE)
                                        + 1.0 / CAST(n1 AS DOUBLE)))
                       / 100.0 * 1000000 + 0.5) / 1000000
            ELSE NULL END AS mde_value
FROM s
""",
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the parity-split experiment per
    segment at alpha=0.05 / power=0.8: MDE = (z_{a/2}+z_b)·
    sqrt(s²·(1/n0 + 1/n1)) with the z-sum pre-evaluated to the
    2.8016 literal — the pre-experiment sizing readout that belongs
    next to the chi-square and CUPED entries (is this test even able
    to see the effect you care about?).

    The pooled sample variance is carried as an EXACT integer
    fraction (n·Σv² − (Σv)², n(n−1)) over cents-quantized values
    (the squared-moment int64 budget rule), and the MDE is one
    fixed-order double expression (sqrt correctly rounded) through
    round_stable_sql(6), reported back in value units.  One map-side
    conditional aggregate, no join.
    """
    q = load(spark, sf_dir, "events", fan_out=True).select(
        "event_type",
        (F.col("user_id") % 2).cast("long").alias("variant"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vq"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vq").alias("s1"),
        F.sum(F.col("vq") * F.col("vq")).alias("s2"),
        F.sum((F.col("variant") == 0).cast("long")).alias("n0"),
        F.sum((F.col("variant") == 1).cast("long")).alias("n1"),
    )
    n, s1, s2, n0, n1 = (F.col(k) for k in ("n", "s1", "s2", "n0", "n1"))
    var_num = (n * s2 - s1 * s1).cast("long")
    var_den = (n * (n - 1)).cast("long")
    mde = F.when(
        (n >= 2) & (n0 > 0) & (n1 > 0) & (var_num > 0),
        F.expr(
            round_stable_sql(
                "2.8016D * sqrt(CAST(CAST(n * s2 - s1 * s1 AS BIGINT) AS DOUBLE)"
                " / CAST(CAST(n * (n - 1) AS BIGINT) AS DOUBLE)"
                " * (1.0D / CAST(n0 AS DOUBLE) + 1.0D / CAST(n1 AS DOUBLE))) / 100.0D",
                6,
            )
        ),
    )
    return s.select(
        "event_type",
        n0.alias("n_control"),
        n1.alias("n_treatment"),
        var_num.alias("var_num"),
        var_den.alias("var_den"),
        mde.alias("mde_value"),
    )


@register(
    "ks_two_sample_drift",
    survey="M14-adjacent,W5 (extension: exact two-sample Kolmogorov-Smirnov)",
    oracle=f"""
WITH span AS (
    SELECT min(epoch_ns(ts) // {DAY_NS}) AS dlo,
           max(epoch_ns(ts) // {DAY_NS}) AS dhi
    FROM events
),
s AS (
    SELECT event_type, value,
           CASE WHEN epoch_ns(ts) // {DAY_NS}
                     <= (SELECT (dlo + dhi) // 2 FROM span)
                THEN 0 ELSE 1 END AS half
    FROM events
),
g AS (
    SELECT event_type, value,
           CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
           CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
    FROM s GROUP BY 1, 2
),
cum AS (
    SELECT event_type,
           CAST(sum(c0) OVER w AS BIGINT) AS f0,
           CAST(sum(c1) OVER w AS BIGINT) AS f1,
           CAST(sum(c0) OVER (PARTITION BY event_type) AS BIGINT) AS n0,
           CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1
    FROM g
    WINDOW w AS (PARTITION BY event_type ORDER BY value ROWS UNBOUNDED PRECEDING)
),
mx AS (
    SELECT event_type, n0, n1,
           CAST(max(abs(f0 * n1 - f1 * n0)) AS BIGINT) AS d_num
    FROM cum GROUP BY event_type, n0, n1
)
SELECT event_type, n0 AS n_first, n1 AS n_second, d_num,
       floor(CAST(d_num AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS ks_stat
FROM mx
""",
)
def ks_two_sample_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    first and second half of each event type's value distribution —
    the bin-free drift test that complements the bucketed chi-square
    (`drift_chi2_value_buckets`): KS sees any distributional shift,
    not just the 10-bucket projection.

    The supremum |F̂₀(v) − F̂₁(v)| is computed EXACTLY: cumulative
    counts over the merged distinct-value grain, cross-multiplied to
    the integer numerator |f0·n1 − f1·n0| (bounded by n0·n1 ≈ 4e8 at
    sf0.1, int64-budget-safe to ~3e9-row halves), max'd as an
    integer, and divided once for the display value — no ECDF floats
    anywhere until the final round_stable_sql.

    Scale shape: value-grain aggregate, ONE type-partitioned window
    sort serving both cumulative sums and both totals, then a max
    rollup on the window's own partitioning.
    """
    e = load(spark, sf_dir, "events", fan_out=True)
    span = e.agg(
        F.expr(f"(min(ts div {DAY_NS}) + max(ts div {DAY_NS})) div 2").alias("dmid")
    )
    s = e.crossJoin(F.broadcast(span)).select(
        "event_type",
        "value",
        (F.expr(f"ts div {DAY_NS}") > F.col("dmid")).cast("long").alias("half"),
    )
    g = s.groupBy("event_type", "value").agg(
        F.sum((F.col("half") == 0).cast("long")).alias("c0"),
        F.sum(F.col("half")).alias("c1"),
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        F.sum("c0").over(run).alias("f0"),
        F.sum("c1").over(run).alias("f1"),
        F.sum("c0").over(tot).alias("n0"),
        F.sum("c1").over(tot).alias("n1"),
    )
    mx = cum.groupBy("event_type", "n0", "n1").agg(
        F.max(F.abs(F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0"))).alias(
            "d_num"
        )
    )
    return mx.select(
        "event_type",
        F.col("n0").alias("n_first"),
        F.col("n1").alias("n_second"),
        F.col("d_num").cast("long").alias("d_num"),
        F.expr(
            round_stable_sql("CAST(d_num AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))", 6)
        ).alias("ks_stat"),
    )


@register(
    "qini_curve_buckets",
    survey="M14-adjacent,W5 (extension: Qini uplift curve)",
    oracle="""
WITH s AS (
    SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket,
           CAST(user_id % 2 AS BIGINT) AS variant,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
    FROM events
),
b AS (
    SELECT bucket,
           CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t_n,
           CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS t_pos,
           CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_n,
           CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS c_pos
    FROM s GROUP BY bucket
),
cum AS (
    SELECT bucket,
           CAST(sum(t_n) OVER w AS BIGINT) AS ct_n,
           CAST(sum(t_pos) OVER w AS BIGINT) AS ct_pos,
           CAST(sum(c_n) OVER w AS BIGINT) AS cc_n,
           CAST(sum(c_pos) OVER w AS BIGINT) AS cc_pos
    FROM b
    WINDOW w AS (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
)
SELECT bucket AS threshold_bucket, ct_n, ct_pos, cc_n, cc_pos,
       CAST(ct_pos * cc_n - cc_pos * ct_n AS BIGINT) AS qini_num,
       CASE WHEN cc_n > 0
            THEN floor((CAST(ct_pos AS DOUBLE)
                        - CAST(cc_pos AS DOUBLE) * CAST(ct_n AS DOUBLE)
                          / CAST(cc_n AS DOUBLE))
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS qini_incremental
FROM cum
""",
)
def qini_curve_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve for the parity-split experiment: targeting
    the top score buckets first, the cumulative INCREMENTAL
    conversions (treated positives minus the control positives scaled
    to the treated exposure) at every depth — the evaluation curve
    for uplift/targeting models, where plain AUC misleads (a model
    can rank conversions well yet target people who'd convert
    anyway).

    Exact int64 cumulative cells at every depth; the scale-free
    numerator ct_pos·cc_n − cc_pos·ct_n is emitted as an exact
    integer (positive ⟺ treatment is winning at that depth) and the
    conventional incremental-count display is one guarded
    fixed-order double.  One map-side groupBy to the bucket grain,
    one window over ≤10 rows.
    """
    s = load(spark, sf_dir, "events", fan_out=True).select(
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)
        ).alias("bucket"),
        (F.col("user_id") % 2).cast("long").alias("variant"),
        F.col("event_type").isin("purchase", "signup").cast("long").alias("y"),
    )
    b = s.groupBy("bucket").agg(
        F.sum(F.col("variant")).alias("t_n"),
        F.sum(F.col("variant") * F.col("y")).alias("t_pos"),
        F.sum(F.lit(1) - F.col("variant")).alias("c_n"),
        F.sum((F.lit(1) - F.col("variant")) * F.col("y")).alias("c_pos"),
    )
    w = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = b.select(
        "bucket",
        F.sum("t_n").over(w).alias("ct_n"),
        F.sum("t_pos").over(w).alias("ct_pos"),
        F.sum("c_n").over(w).alias("cc_n"),
        F.sum("c_pos").over(w).alias("cc_pos"),
    )
    qnum = (
        F.col("ct_pos") * F.col("cc_n") - F.col("cc_pos") * F.col("ct_n")
    ).cast("long")
    qinc = F.when(
        F.col("cc_n") > 0,
        F.expr(
            round_stable_sql(
                "(CAST(ct_pos AS DOUBLE)"
                " - CAST(cc_pos AS DOUBLE) * CAST(ct_n AS DOUBLE) / CAST(cc_n AS DOUBLE))",
                6,
            )
        ),
    ).otherwise(F.lit(0.0))
    return cum.select(
        F.col("bucket").alias("threshold_bucket"),
        "ct_n",
        "ct_pos",
        "cc_n",
        "cc_pos",
        qnum.alias("qini_num"),
        qinc.alias("qini_incremental"),
    )
