"""MLlib twins for the statistical core (SURVEY.md §2.9 M13/M14).

The registry's closed-form implementations (sem_queries.py) are the
oracle-checked production path; these MLlib pipelines are the
library-backed equivalents the north star calls for ("MLlib pipeline
+ Spark SQL") — VectorAssembler → StandardScaler → PCA for the
one-factor loadings, and LinearRegression for the OLS stage.  pytest
(tests/test_mllib_parity.py) proves the two paths agree (loadings up
to sign, OLS coefficients to 6dp), so either can serve at scale.

Both queries are rows-only in the driver gate: eigen-decompositions
and iterative solvers are not expressible in portable SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scoring import config as C
from ..scoring.demo_domain import dimension_scores
from ..sources.catalog import load
from .registry import register


def _pivoted_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete-case: companies missing a dimension are excluded from
    # the factor fit (VectorAssembler cannot carry nulls, and imputing
    # zeros would bend the factor toward missingness patterns)
    ds = dimension_scores(spark, sf_dir).select("company_id", "dimension", "score")
    return (
        ds.groupBy("company_id")
        .pivot("dimension", list(C.DIMENSIONS))
        .agg(F.max("score"))
        .dropna()
    )


@register(
    "mllib_pca_loadings",
    survey="M13 (MLlib pipeline twin)",
    # rows-only: eigenvector extraction is not portable SQL
)
def mllib_pca_loadings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 via the MLlib pipeline: VectorAssembler → StandardScaler
    (mean/unit-variance, matching the closed form's z-scores) →
    PCA(k=1); |loadings| normalized to Σ=1 (reference
    sem_confidence.py:35-65).  Output: one row per dimension with its
    loading — sign-canonicalized (Σ raw loading ≥ 0) so reruns and
    eigen-solver sign flips don't change the result."""
    from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler

    dims = list(C.DIMENSIONS)
    pivoted = _pivoted_scores(spark, sf_dir)
    vec = VectorAssembler(inputCols=dims, outputCol="raw").transform(pivoted)
    scaled = (
        StandardScaler(inputCol="raw", outputCol="z", withMean=True, withStd=True)
        .fit(vec)
        .transform(vec)
    )
    model = PCA(k=1, inputCol="z", outputCol="eta").fit(scaled)
    pc = [model.pc[i, 0] for i in range(len(dims))]
    if sum(pc) < 0:  # canonical sign
        pc = [-x for x in pc]
    total = sum(abs(x) for x in pc) or 1.0
    loadings = [abs(x) / total for x in pc]
    return spark.createDataFrame(
        [(d, round(float(l), 6)) for d, l in zip(dims, loadings)],
        "dimension string, loading double",
    )


@register(
    "mllib_ols_fit",
    survey="M14 (MLlib LinearRegression twin)",
    # rows-only: iterative/normal-equation solver, not portable SQL
)
def mllib_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 via pyspark.ml.regression.LinearRegression (normal
    solver, no regularization): composite ~ mean dimension score per
    company — the library twin of the closed-form slope/intercept
    aggregates (reference sem_confidence.py:68-182).  Output: one row
    with slope, intercept, r2."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    ds = dimension_scores(spark, sf_dir)
    per_company = ds.groupBy("company_id").agg(
        F.avg("score").alias("x"),
        (F.avg("score") * 0.9 + F.avg("confidence") * 10.0).alias("y"),
    )
    vec = VectorAssembler(inputCols=["x"], outputCol="features").transform(per_company)
    lr = LinearRegression(
        featuresCol="features", labelCol="y", regParam=0.0, solver="normal"
    ).fit(vec)
    return vec.sparkSession.createDataFrame(
        [
            (
                round(float(lr.coefficients[0]), 6),
                round(float(lr.intercept), 6),
                round(float(lr.summary.r2), 6),
            )
        ],
        "slope double, intercept double, r2 double",
    )


@register(
    "grouped_ols",
    survey="M14 (extension: many-models grouped fit, native aggregates)",
    oracle="""
WITH s AS (
    SELECT l_returnflag AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_linenumber) AS BIGINT) AS sx,
           CAST(sum(l_quantity) AS BIGINT) AS sy,
           CAST(sum(l_linenumber * l_quantity) AS BIGINT) AS sxy,
           CAST(sum(l_linenumber * l_linenumber) AS BIGINT) AS sxx
    FROM lineitem
    GROUP BY 1
)
SELECT grp, n,
       round((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n, 6)
           AS intercept
FROM s
""",
)
def grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS (y = l_quantity on x = l_linenumber, grouped by
    return flag) fitted from EXACT integer sums: slope =
    (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) with bigint numerator/denominator
    and ONE double division, so partition order can't move the result
    (the portable form of regr_slope/regr_intercept).

    The many-models pattern: one shuffle fits every group's model as
    a plain partial-aggregated groupBy — no per-group collect, no
    Python in the hot path; `grouped_ols_pandas` is the grouped-map
    UDF twin for models with no closed form."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_linenumber").cast("bigint")
    y = F.col("l_quantity").cast("bigint")
    s = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return s.select(
        "grp",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@register(
    "grouped_ols_pandas",
    survey="§2.11 (extension: grouped-map applyInPandas many-models fit)",
    # rows-only: float64 accumulation order in numpy differs from the
    # exact-integer-sum closed form in the last ulp; equivalence to
    # grouped_ols is pinned to 5dp in tests/test_mllib_parity.py
)
def grouped_ols_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map `applyInPandas` twin of `grouped_ols`: each group's
    pandas frame is fitted by a numpy kernel — the escape hatch for
    models WITHOUT a closed aggregate form (tree fits, iterative
    solvers).  Arrow moves each group as columnar batches; at scale
    groups are the shuffle unit, so skewed group sizes salt like any
    hot key."""
    import pandas as pd

    li = load(spark, sf_dir, "lineitem", fan_out=True).select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_linenumber").cast("double").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        n = len(pdf)
        sx, sy = x.sum(), y.sum()
        sxy, sxx = (x * y).sum(), (x * x).sum()
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "n": [n],
                "slope": [slope],
                "intercept": [(sy - slope * sx) / n],
            }
        )

    return li.groupBy("grp").applyInPandas(
        fit, schema="grp string, n long, slope double, intercept double"
    )


@register(
    "mllib_text_classifier",
    survey="§2.11/M-extension: full MLlib Pipeline (Tokenizer→HashingTF→IDF→LogisticRegression)",
)
def mllib_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MLlib `Pipeline` estimator chain — the literal
    "MLlib pipeline" of the north star: RegexTokenizer → HashingTF
    (2^15 features) → IDF → multinomial LogisticRegression, trained to
    predict `lang` on the deterministic 90% doc split and evaluated on
    the held-out 10% as a confusion matrix (actual_lang, predicted,
    n).

    Scale shape: every stage is a distributed MLlib transformer;
    HashingTF keeps the feature space fixed-width (no vocab build /
    driver dictionary), so the same pipeline trains on a 100 TB corpus
    via treeAggregate-based LBFGS.  Rows-only in the driver gate
    (iterative solver — not expressible in portable SQL);
    tests/test_rows_only.py pins the structural invariants (the
    matrix partitions the held-out split; predictions stay in the
    training label domain — on the synthetic testdata `lang` is
    independent of `text`, so accuracy itself is chance)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import IDF, HashingTF, IndexToString, RegexTokenizer, StringIndexer

    d = load(spark, sf_dir, "documents", fan_out=True)
    is_train = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|lm-seed-1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        < 90
    )
    d = d.select("doc_id", "lang", F.lower(F.trim(F.col("text"))).alias("text"),
                 is_train.alias("is_train"))
    train, test = d.filter("is_train"), d.filter("NOT is_train")

    indexer = StringIndexer(
        inputCol="lang", outputCol="label", stringOrderType="alphabetAsc"
    )
    pipe = Pipeline(
        stages=[
            indexer,
            RegexTokenizer(inputCol="text", outputCol="toks", pattern=r"\s+"),
            HashingTF(inputCol="toks", outputCol="tf", numFeatures=1 << 15),
            IDF(inputCol="tf", outputCol="features"),
            LogisticRegression(maxIter=20, regParam=0.01, family="multinomial"),
        ]
    )
    model = pipe.fit(train)
    labels = model.stages[0].labelsArray[0]
    pred = IndexToString(
        inputCol="prediction", outputCol="predicted", labels=list(labels)
    ).transform(model.transform(test))
    return (
        pred.groupBy(F.col("lang").alias("actual_lang"), "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


_FP_MIN_SUPPORT = 0.02


@register(
    "fpgrowth_brand_itemsets",
    survey="M-extension (MLlib FP-Growth market-basket), J2,A15",
    oracle=f"""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT count(DISTINCT okey) AS n_orders FROM baskets),
singles AS (
    SELECT brand AS itemset, 1 AS size, count(*) AS support_count
    FROM baskets GROUP BY brand
),
pairs AS (
    SELECT a.brand || ',' || b.brand AS itemset, 2 AS size,
           count(*) AS support_count
    FROM baskets a JOIN baskets b
      ON a.okey = b.okey AND a.brand < b.brand
    GROUP BY 1
),
u AS (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
SELECT itemset, CAST(size AS INT) AS size,
       CAST(support_count AS BIGINT) AS support_count
FROM u, n
WHERE support_count >= ceil({_FP_MIN_SUPPORT} * n.n_orders)
""",
)
def fpgrowth_brand_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib FP-Growth market-basket mining over TPC-H: each order's
    basket is its distinct part brands; frequent itemsets at 2%
    support.  The output is RESTRICTED to sizes 1-2, which makes an
    EXACT SQL oracle possible (single and pair supports are plain
    distinct-pair counts) — an iterative MLlib miner checked
    hash-exactly against relational algebra.

    Scale shape: basket build is one equi-join with the broadcast
    `part` dim + a distinct; FP-Growth itself is MLlib's parallel
    PFP (per-partition conditional trees, group-dependent shuffle) —
    the standard 100 TB itemset algorithm."""
    from pyspark.ml.fpm import FPGrowth

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .groupBy("okey")
        .agg(F.array_sort(F.collect_set("brand")).alias("items"))
    )
    model = FPGrowth(
        itemsCol="items", minSupport=_FP_MIN_SUPPORT, minConfidence=0.5
    ).fit(baskets)
    return (
        model.freqItemsets.filter(F.size("items") <= 2)
        .select(
            F.concat_ws(",", F.array_sort("items")).alias("itemset"),
            F.size("items").cast("int").alias("size"),
            F.col("freq").cast("bigint").alias("support_count"),
        )
    )


@register(
    "fpgrowth_brand_rules",
    survey="M-extension (association rules with exact confidence/lift oracle)",
    oracle=f"""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT count(DISTINCT okey) AS n_orders FROM baskets),
singles AS (
    SELECT brand, count(*) AS supp FROM baskets GROUP BY brand
),
pairs AS (
    SELECT a.brand AS ant, b.brand AS cons, count(*) AS supp_ab
    FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.brand <> b.brand
    GROUP BY 1, 2
)
SELECT p.ant AS antecedent, p.cons AS consequent,
       CAST(p.supp_ab AS BIGINT) AS support_count,
       floor(p.supp_ab / CAST(sa.supp AS DOUBLE) * 1e6 + 0.5) / 1e6 AS confidence,
       floor((p.supp_ab / CAST(sa.supp AS DOUBLE)) / (sc.supp / CAST(n.n_orders AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS lift
FROM pairs p
JOIN singles sa ON p.ant = sa.brand
JOIN singles sc ON p.cons = sc.brand, n
WHERE p.supp_ab >= ceil({_FP_MIN_SUPPORT} * n.n_orders)
  AND p.supp_ab / CAST(sa.supp AS DOUBLE) >= 0.1
""",
)
def fpgrowth_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the FP-Growth model, restricted to
    1-item antecedent → 1-item consequent so confidence
    (supp(a,b)/supp(a)) and lift (conf / P(b)) have an EXACT
    relational oracle.  MLlib computes both from the same integer
    supports, so the doubles agree bit-for-bit before the shared
    floor-rounding."""
    from pyspark.ml.fpm import FPGrowth

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .groupBy("okey")
        .agg(F.array_sort(F.collect_set("brand")).alias("items"))
    )
    # Persisted (r13, guide §5): the FP-Growth fit and the n_orders
    # scalar both materialize this frame — without the persist the
    # lineitem⋈part + distinct + collect_set pipeline runs twice.
    from ..functions.cache import tracked_persist

    baskets = tracked_persist(baskets, "fpgrowth.baskets")
    model = FPGrowth(
        itemsCol="items", minSupport=_FP_MIN_SUPPORT, minConfidence=0.1
    ).fit(baskets)
    n_orders = baskets.count()
    singles = model.freqItemsets.filter(F.size("items") == 1).select(
        F.element_at("items", 1).alias("cons_item"),
        F.col("freq").alias("supp_cons"),
    )
    rules = model.associationRules.filter(
        (F.size("antecedent") == 1) & (F.size("consequent") == 1)
    ).select(
        F.element_at("antecedent", 1).alias("antecedent"),
        F.element_at("consequent", 1).alias("consequent"),
        "confidence",
        "support",
    )
    conf = F.col("confidence")
    lift = conf / (F.col("supp_cons") / F.lit(float(n_orders)))
    return (
        rules.join(
            F.broadcast(singles), rules.consequent == singles.cons_item
        )
        .select(
            "antecedent",
            "consequent",
            F.round(F.col("support") * F.lit(float(n_orders))).cast("bigint").alias(
                "support_count"
            ),
            (F.floor(conf * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("confidence"),
            (F.floor(lift * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("lift"),
        )
    )


def pav_fit(pairs: list[tuple[float, float, float]]) -> list[float]:
    """Exact pool-adjacent-violators on (x-sorted) (x, y, w) triples:
    returns the isotonic fitted value per input position.  The
    reference cross-check for the MLlib twin (same algorithm MLlib
    runs per-partition + merge)."""
    blocks: list[list[float]] = []  # [sum_wy, sum_w, count]
    for _, y, w in pairs:
        blocks.append([y * w, w, 1])
        while len(blocks) >= 2 and (
            blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):
            b = blocks.pop()
            blocks[-1][0] += b[0]
            blocks[-1][1] += b[1]
            blocks[-1][2] += b[2]
    out: list[float] = []
    for swy, sw, cnt in blocks:
        out.extend([swy / sw] * cnt)
    return out


@register(
    "isotonic_calibration_fit",
    survey="M13-adjacent (extension: isotonic (PAV) score calibration, MLlib)",
    # rows-only: PAV is an inherently sequential pooling algorithm (no
    # SQL closed form); exactness is pinned against the pure-python
    # PAV replay in tests/test_cross_query_invariants.py.
)
def isotonic_calibration_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the derived confidence
    score against observed conversion: fits the best monotone
    step-function mapping score→P(positive) with MLlib's distributed
    IsotonicRegression (per-partition PAV + merge) over the
    per-bucket aggregated rates — the calibration FIT that the
    reliability-bin audit (`calibration_reliability_bins`) motivates
    (PAV is what turns a mis-calibrated score into a usable
    probability without assuming a parametric shape).

    Runs on the 100-point quantized score grain (weight = bucket
    count, label = bucket positive rate), so the driver-side model
    is O(100) regardless of corpus size — the standard
    calibrate-on-aggregates pattern.  Output: per score point, the
    fitted monotone probability (6dp round_stable), pinned against a pure-python PAV replay (<=1e-6, the
    fit's own rounding grain).
    """
    e = load(spark, sf_dir, "events", fan_out=True)
    pts = (
        e.select(
            F.least(
                F.floor(F.col("value") / F.lit(5.0)).cast("long"), F.lit(99)
            ).alias("score_pt"),
            F.col("event_type")
            .isin("purchase", "signup")
            .cast("long")
            .alias("y"),
        )
        .groupBy("score_pt")
        .agg(F.count(F.lit(1)).alias("w"), F.sum("y").alias("k"))
    )
    try:
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import IsotonicRegression
    except ImportError:  # pragma: no cover - MLlib ships with pyspark
        raise
    train = pts.select(
        F.col("score_pt").cast("double").alias("feature"),
        (F.col("k").cast("double") / F.col("w").cast("double")).alias("label"),
        F.col("w").cast("double").alias("weight"),
    )
    assembled = VectorAssembler(
        inputCols=["feature"], outputCol="features"
    ).transform(train)
    model = IsotonicRegression(
        featuresCol="features", labelCol="label", weightCol="weight"
    ).fit(assembled)
    fitted = model.transform(assembled)
    return fitted.select(
        F.col("feature").cast("long").alias("score_pt"),
        F.col("weight").cast("long").alias("n"),
        (F.floor(F.col("prediction") * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias(
            "calibrated_p"
        ),
    )
