"""Text-analysis operators over the `documents` table — language-ID
heuristic, quality scoring, token counting, document fingerprinting.
The LLM-data-pipeline extension set; all native column expressions
(JVM/codegen), no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cache import dataset_tag, session_persist, tracked_persist
from ..functions.core import clamp_sql, flit, round_stable_sql, split_bucket_sql, topk_ranked
from ..functions.text import STOPWORDS_EN, stopword_ratio, token_count, word_tokens
from ..sources.catalog import load
from .registry import register

_SW_SQL = ", ".join(f"'{s}'" for s in STOPWORDS_EN)


@register(
    "text_quality_scores",
    survey="text-analysis (extension)",
    bench=True,
    oracle=rf"""
WITH toks AS (
    SELECT doc_id, lang, source,
           string_split_regex(trim(text), '\s+') AS ws
    FROM documents
),
m AS (
    SELECT doc_id, lang, source,
           len(ws) AS n_tokens,
           len(list_distinct(ws)) AS n_distinct,
           CASE WHEN len(ws) > 0
                THEN len(list_filter(ws, w -> lower(w) IN ({_SW_SQL})))::DOUBLE / len(ws)
                ELSE 0.0 END AS stop_ratio,
           CASE WHEN len(ws) > 0
                THEN list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws)
                ELSE 0.0 END AS avg_token_len
    FROM toks
)
SELECT doc_id, lang, source, CAST(n_tokens AS INT) AS n_tokens,
       round(CASE WHEN n_tokens > 0 THEN n_distinct::DOUBLE / n_tokens ELSE 0.0 END, 6)
           AS distinct_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       round(avg_token_len, 6) AS avg_token_len,
       round(least(greatest(
           0.25 * least(n_tokens / 100.0, 1.0)
           + 0.25 * (1.0 - stop_ratio)
           + 0.25 * (CASE WHEN n_tokens > 0 THEN n_distinct::DOUBLE / n_tokens ELSE 0.0 END)
           + 0.25 * least(avg_token_len / 6.0, 1.0),
       0.0), 1.0), 6) AS quality
FROM m
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + blended quality score in [0,1]
    (length, stopword ratio, type-token ratio, avg token length) —
    the fixed-weight blend style of the reference's review-culture
    scoring (glassdoor_collector.py:129-222) applied to corpus QA."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = word_tokens(F.col("text"))
    n = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    stop = stopword_ratio(F.col("text"))
    tok_len_sum = F.aggregate(
        F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    avg_len = F.when(n > 0, tok_len_sum.cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    distinct_ratio = F.when(n > 0, n_distinct.cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    quality = (
        0.25 * F.least(n / F.lit(100.0), F.lit(1.0))
        + 0.25 * (F.lit(1.0) - stop)
        + 0.25 * distinct_ratio
        + 0.25 * F.least(avg_len / 6.0, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        n.cast("int").alias("n_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stop, 6).alias("stop_ratio"),
        F.round(avg_len, 6).alias("avg_token_len"),
        quality.alias("quality"),
    ).withColumn("quality", F.expr(f"round({clamp_sql('quality', 0.0, 1.0)}, 6)"))


@register(
    "token_stats_by_source",
    survey="text-analysis (extension)",
    oracle=r"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
       round(avg(len(string_split_regex(trim(text), '\s+'))), 6) AS avg_tokens,
       CAST(max(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY source
""",
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count rollup per source — the whitespace tokenizer
    (word_count analog, reference document_parser.py word_count
    columns) as a groupBy aggregate."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    n = token_count(F.col("text"))
    return (
        d.select("source", n.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
            F.max("n_tok").cast("bigint").alias("max_tokens"),
        )
    )


@register(
    "lang_id_heuristic",
    survey="text-analysis (extension)",
    oracle=rf"""
WITH m AS (
    SELECT doc_id, lang,
           CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
                THEN len(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> lower(w) IN ({_SW_SQL})))::DOUBLE
                     / len(string_split_regex(trim(text), '\s+'))
                ELSE 0.0 END AS stop_ratio
    FROM documents
)
SELECT lang AS actual_lang,
       CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END AS predicted,
       count(*) AS n
FROM m
GROUP BY lang, CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language-ID heuristic → confusion matrix
    against the labeled lang column.  (The n-gram-profile version of
    this operator slots in the same shape: per-doc feature → argmax
    classify → rollup.)"""
    d = load(spark, sf_dir, "documents", fan_out=True)
    stop = stopword_ratio(F.col("text"))
    pred = F.when(stop >= 0.08, F.lit("en")).otherwise(F.lit("other"))
    return (
        d.select(F.col("lang").alias("actual_lang"), pred.alias("predicted"))
        .groupBy("actual_lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_fingerprint",
    survey="text-analysis,F5 (extension)",
    oracle="""
SELECT doc_id,
       list_min(list_transform(
           range(1, greatest(length(text) - 7, 1) + 1, 4),
           i -> md5(substr(text, CAST(i AS INTEGER), 8))
       )) AS fingerprint
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min md5 over 8-char shingles
    at stride 4 (winnowing-style min-hash selection).  Content-defined
    → robust to metadata changes, cheap to compare across corpora."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    text = F.col("text")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(text) - 7, F.lit(1)), F.lit(4)
    )
    fp = F.array_min(
        F.transform(starts, lambda i: F.md5(F.substr(text, i, F.lit(8))))
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@register(
    "train_test_split",
    survey="LLM-pipeline extension: deterministic corpus split",
    oracle="""
SELECT split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM (
    SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-seed-1'), 1, 8))::BIGINT % 100 < 90
                THEN 'train' ELSE 'eval' END AS split,
           n_chars, lang
    FROM documents
)
GROUP BY split
""",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 corpus split on a salted content-key hash —
    the training-data-pipeline split that stays stable across reruns
    and cluster sizes (no rand(): a document's split never changes
    when data is re-partitioned or re-ingested).  Hash = md5 of
    doc_id + salt, mod 100, engine-agnostic so the oracle replays it."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bucket = F.expr(split_bucket_sql("CAST(doc_id AS STRING)"))
    split = F.when(bucket < 90, "train").otherwise("eval")
    return (
        d.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@register(
    "corpus_length_histogram",
    survey="text-analysis extension: corpus profiling",
    oracle="""
SELECT CAST(least(n_chars // 50, 9) AS INT) AS bucket,
       count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       round(avg(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1), 4)
           AS avg_tokens
FROM documents
GROUP BY 1
""",
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profiling: fixed-width 50-char buckets (top
    bucket open-ended) with doc counts and token stats — the
    distribution check every training-data pipeline runs before and
    after filtering.  One groupBy on a derived int; partial aggs
    everywhere."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bucket = F.least(F.floor(F.col("n_chars") / 50), F.lit(9)).cast("int")
    tokens = (
        F.length(F.trim("text"))
        - F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
        + 1
    )
    return (
        d.select(bucket.alias("bucket"), "n_chars", tokens.alias("tokens"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.round(F.avg("tokens"), 4).alias("avg_tokens"),
        )
    )


@register(
    "stratified_sample",
    survey="LLM-pipeline extension: deterministic stratified sampling",
    oracle="""
WITH rates(lang, pct) AS (VALUES ('en', 50), ('de', 25), ('fr', 10)),
hashed AS (
    SELECT d.lang, d.n_chars, r.pct,
           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|sample-seed-7'), 1, 8))::BIGINT % 100 AS h
    FROM documents d JOIN rates r ON d.lang = r.lang
)
SELECT lang,
       count(*) FILTER (WHERE h < pct) AS n_sampled,
       count(*) AS n_total,
       round(sum(n_chars) FILTER (WHERE h < pct) * 1.0 / sum(n_chars), 6) AS char_fraction
FROM hashed
GROUP BY lang
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling with DETERMINISTIC membership:
    a salted doc-id hash mod 100 against per-stratum rates — unlike
    `sampleBy`, a document's inclusion never changes across reruns,
    partitionings, or engines (the reproducibility requirement for
    training-corpus curation).  Rates ride a broadcast join."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    spark_rates = d.sparkSession.createDataFrame(
        [("en", 50), ("de", 25), ("fr", 10)], "lang string, pct int"
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|sample-seed-7"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    joined = d.join(F.broadcast(spark_rates), "lang").select(
        "lang", "n_chars", "pct", h.alias("h")
    )
    sampled = F.col("h") < F.col("pct")
    return joined.groupBy("lang").agg(
        F.count(F.when(sampled, 1)).alias("n_sampled"),
        F.count(F.lit(1)).alias("n_total"),
        F.round(
            F.sum(F.when(sampled, F.col("n_chars")).otherwise(0)) / F.sum("n_chars"), 6
        ).alias("char_fraction"),
    )


@register(
    "tfidf_top_terms",
    bench=True,
    survey="text-analysis extension: per-language salient terms",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
    FROM documents
),
tf AS (
    SELECT lang, w, CAST(count(*) AS BIGINT) AS tf
    FROM toks GROUP BY lang, w
),
df AS (
    SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM toks GROUP BY w
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT t.lang, t.w AS term, t.tf, d.df,
           round(t.tf * (n.n_docs::DOUBLE / d.df), 6) AS score
    FROM tf t JOIN df d ON t.w = d.w CROSS JOIN n
)
SELECT lang, term, tf, df, score, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY score DESC, term
    ) AS rk
    FROM scored
)
WHERE rk <= 5
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per language by tf·(N/df) — the inverse-
    document-frequency weighting with the log dropped so the score is
    ONE exact-integer division (engine-deterministic; ln() can differ
    in the last ulp across libms and flip a rounding boundary).

    Scale shape — SINGLE-PASS via the subset-partitioning rule: one
    token explode, one repartition on the term; then the (term, lang)
    aggregate (term-freq + per-(term,lang) distinct-doc count), the
    term-level doc-freq (a window sum over the term — valid because a
    doc has exactly one lang, so per-term df = Σ_lang per-(term,lang)
    distinct docs), and the per-term window ALL reuse that one
    hash(term) distribution with zero further exchanges; only the
    final per-lang top-k window re-shuffles.  Two exchanges total
    (was: double explode + tf shuffle + two-stage distinct df shuffle
    + a term re-shuffle join — measured 1.21 s → 0.78 s at sf0.1).
    Every stage map-side combines and no driver-side vocabulary
    materializes.  N (the corpus size) rides as a broadcast 1-row
    frame INSIDE the same DAG — an eager `d.count()` here cost a
    whole extra scan job per invocation (removed r4)."""
    # single-parse build (r14, guide §5/§7.3) — identical stages and
    # arithmetic as the former Column chain (454 round trips/build)
    d = load(spark, sf_dir, "documents", fan_out=True)
    n = d.agg(F.expr("CAST(count(1) AS DOUBLE)").alias("n_docs"))
    toks = d.selectExpr(
        "doc_id", "lang",
        r"explode(split(lower(trim(text)), '\\s+')) AS w",
    )
    base = (
        toks.repartition("w")
        .groupBy("w", "lang")
        .agg(
            F.expr("CAST(count(1) AS BIGINT)").alias("tf"),
            F.expr("CAST(count(DISTINCT doc_id) AS BIGINT)").alias("dfl"),
        )
    )
    scored = (
        base.selectExpr(
            "*", "CAST(sum(dfl) OVER (PARTITION BY w) AS BIGINT) AS df"
        )
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "lang",
            "w AS term",
            "tf",
            "df",
            "round(tf * (n_docs / df), 6) AS score",
        )
    )
    return topk_ranked(scored, "PARTITION BY lang ORDER BY score DESC, term ASC", 5)


_PACK_BUDGET = 2048  # whitespace tokens per packed training sequence


@register(
    "sequence_packing",
    survey="LLM-pipeline extension: fixed-budget sequence packing",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang,
           CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS BIGINT)
               AS n_tokens
    FROM documents
),
filled AS (
    SELECT doc_id, lang, n_tokens,
           CAST(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens
    FROM toks
),
binned AS (
    SELECT lang, doc_id, n_tokens,
           (cum_tokens - n_tokens) // {_PACK_BUDGET} AS bin_id
    FROM filled
)
SELECT lang, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM binned
GROUP BY lang, bin_id
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: documents (in doc_id order,
    per language shard) fill fixed {budget}-token training sequences;
    a doc starts a new bin when the running total crosses the budget.
    bin_id = (cumsum − own_tokens) div budget — one window cumsum, no
    sequential loop.

    Scale shape: packing is per-shard (lang here; hash-shard in
    production), so the cumsum window partitions by shard and the
    global order never serializes through one task.  This is the op
    that turns a filtered corpus into fixed-length pretraining rows."""
    d = load(spark, sf_dir, "documents")
    n_tokens = (
        F.length(F.trim("text"))
        - F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("bigint")
    toks = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    binned = toks.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.expr(
            f"(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
            f"div {_PACK_BUDGET}"
        ).alias("bin_id"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


_QUANTILES = (50, 90, 99)  # percent


@register(
    "quantile_profile",
    survey="W3 (extension: exact rank-selected quantiles)",
    oracle=f"""
WITH ranked AS (
    SELECT lang, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents
),
qs AS (
    SELECT p FROM (VALUES {", ".join(f"({p})" for p in _QUANTILES)}) t(p)
)
SELECT r.lang, q.p,
       CAST(min(r.n_chars) AS BIGINT) AS q_value
FROM ranked r JOIN qs q ON r.rn = CAST(ceil(q.p * r.n / 100.0) AS BIGINT)
GROUP BY r.lang, q.p
""",
)
def quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quantiles (p50/p90/p99 of n_chars) selected
    BY RANK — value at row ceil(p·n/100) of the (n_chars, doc_id)
    ordering — so both engines pick the identical element and no
    interpolation arithmetic can drift (percentile_cont's a+(b−a)·f
    vs (1−f)·a+f·b differ in the last ulp).

    Scale shape: one hash exchange on lang, a single sort per
    partition serving both window functions, and a 3-row broadcast
    for the quantile list.  The corpus-length profile every data
    pipeline checks before/after filtering; `median_metric` covers
    the approx_percentile scale path."""
    d = load(spark, sf_dir, "documents")

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    qs = spark.createDataFrame([(p,) for p in _QUANTILES], "p int")
    hit = ranked.join(
        F.broadcast(qs),
        F.col("rn") == F.ceil(F.col("p") * F.col("n") / 100.0).cast("bigint"),
    )
    return hit.groupBy("lang", "p").agg(
        F.min("n_chars").cast("bigint").alias("q_value")
    )


_MG_CAPACITY = 64
_HH_TOP = 10


@register(
    "heavy_hitter_tokens",
    bench=True,
    survey="A16,§2.11 (extension: Misra-Gries sketch + exact recount)",
    oracle=r"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
    FROM documents
),
counts AS (
    SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY token
)
SELECT token, n, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rk FROM counts
)
WHERE rk <= 10
""",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus top-10 tokens via the sketch-then-verify pattern:
    each Arrow batch contributes its local top-64 tokens by exact
    local count (a vectorized Misra-Gries equivalent: at most 63
    tokens can exceed the N_b/64 pigeonhole bar, so the local top-64
    is a superset of them, with bounded memory regardless of
    vocabulary size); the merged candidate set PROVABLY contains
    every token with count > N/64 (pigeonhole over batches), and an
    exact recount of just the candidates yields the true top-10 —
    which is why a plain GROUP BY oracle can check a sketch operator.

    Scale shape: pass 1's sketch grain is one row per distinct
    (partition, token) — already map-side partially aggregated — and
    the per-partition top-64 is a bounded window; pass 2 recounts with
    a broadcast semi-join on the tiny candidate list — no
    full-vocabulary GLOBAL aggregation ever happens.  This is the
    heavy-hitters plan for a 100 TB corpus whose vocabulary would
    blow up a naive groupBy.

    r14 (guide §4 — eliminate the Python boundary): pass 1 was a
    `mapInPandas` value_counts that shipped the ENTIRE token stream
    JVM→Arrow→Python per run, the last Python node in any headliner
    plan.  The same Misra-Gries-equivalent sketch runs in pure JVM
    codegen: exact local counts per (spark_partition_id, token) —
    pigeonhole over PARTITIONS instead of Arrow batches: at most 63
    tokens in a partition can exceed N_p/64, so the per-partition
    top-64 by exact local count is a superset of every token with
    partition count > N_p/64, and summing over partitions, the merged
    candidates provably contain every token with global count > N/64.
    A/B at sf0.1 (same window, min-of-medians): 0.698 s → 0.576 s with
    ArrowEvalPython/MapInPandas gone from the plan."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    toks = d.selectExpr(
        r"explode(split(lower(trim(text)), '\\s+')) AS token"
    )

    cands = topk_ranked(
        toks.selectExpr("spark_partition_id() AS pid", "token")
        .groupBy("pid", "token")
        .agg(F.expr("count(1)").alias("c")),
        "PARTITION BY pid ORDER BY c DESC, token ASC",
        _MG_CAPACITY,
    ).select("token")
    # left-semi against the (possibly duplicated) candidate stream:
    # the broadcast hash set dedups implicitly, so no .distinct()
    # shuffle barrier is needed and candidate duplicates cannot
    # multiply the recount rows
    exact = (
        toks.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.expr("CAST(count(1) AS BIGINT)").alias("n"))
    )
    return topk_ranked(exact, "ORDER BY n DESC, token ASC", _HH_TOP)


_PROF_TOP = 20


@register(
    "lang_id_ngram",
    survey="text-analysis (extension: char-n-gram language ID)",
    oracle="""
WITH split AS (
    SELECT doc_id, lang, lower(trim(text)) AS t,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-seed-1'), 1, 8))::BIGINT % 100 < 90
               AS is_train
    FROM documents
),
tri AS (
    SELECT doc_id, lang, is_train,
           unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
                                 i -> substr(t, CAST(i AS INTEGER), 3))) AS g
    FROM split
),
prof AS (
    SELECT lang, g FROM (
        SELECT lang, g,
               row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rk
        FROM tri WHERE is_train GROUP BY lang, g
    ) WHERE rk <= 20
),
eval_tri AS (
    SELECT DISTINCT doc_id, lang AS actual_lang, g FROM tri WHERE NOT is_train
),
scores AS (
    SELECT e.doc_id, e.actual_lang, p.lang AS cand_lang,
           CAST(count(*) AS BIGINT) AS overlap
    FROM eval_tri e JOIN prof p ON e.g = p.g
    GROUP BY 1, 2, 3
),
pred AS (
    SELECT doc_id, actual_lang, cand_lang AS predicted
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY overlap DESC, cand_lang
        ) AS rk
        FROM scores
    ) WHERE rk = 1
)
SELECT actual_lang, predicted, count(*) AS n
FROM pred GROUP BY actual_lang, predicted
""",
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID — the n-gram-profile classifier the
    brief names: per-language profiles are the top-20 trigrams of the
    deterministic 90% train split; each eval doc is classified by
    trigram-overlap argmax (integer scores, lang tie-break) and
    reported as a confusion matrix against the labeled lang.

    Scale shape: the profile build is a (lang, trigram) partial-agg
    shuffle + per-lang top-k window; the profile table is ≤ 20·|langs|
    rows and BROADCASTS to the eval-side overlap join, so classifying
    a 100 TB corpus is one map-side join + one argmax window.  Docs
    sharing no profile trigram drop out (no prediction) — same rule in
    both engines."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    t = F.lower(F.trim(F.col("text")))
    is_train = F.expr(split_bucket_sql("CAST(doc_id AS STRING)")) < 90
    grams = F.when(
        F.length(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: F.substr(t, i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = d.select(
        "doc_id", "lang", is_train.alias("is_train"), F.explode(grams).alias("g")
    )

    prof = topk_ranked(
        tri.filter("is_train").groupBy("lang", "g").agg(F.count(F.lit(1)).alias("cnt")),
        "PARTITION BY lang ORDER BY cnt DESC, g ASC",
        _PROF_TOP,
    ).select(F.col("lang").alias("cand_lang"), "g")
    eval_tri = (
        tri.filter(~F.col("is_train"))
        .select("doc_id", F.col("lang").alias("actual_lang"), "g")
        .distinct()
    )
    scores = (
        eval_tri.join(F.broadcast(prof), "g")
        .groupBy("doc_id", "actual_lang", "cand_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlap"))
    )
    pred = topk_ranked(
        scores, "PARTITION BY doc_id ORDER BY overlap DESC, cand_lang ASC", 1
    ).select("actual_lang", F.col("cand_lang").alias("predicted"))
    return pred.groupBy("actual_lang", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "explode_outer_tokens",
    survey="F15 (extension: null-preserving lateral explode)",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       w -> length(w) >= 12) AS long_words
    FROM documents
)
SELECT lang,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_without,
       CAST(count(w) AS BIGINT) AS n_long_words
FROM toks LEFT JOIN LATERAL (SELECT unnest(long_words) AS w) u ON true
GROUP BY lang
""",
)
def explode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer over the (often empty) long-word list: documents
    with NO match are KEPT as a null row instead of vanishing — the
    lateral-join semantics a per-document report needs (a plain
    explode silently drops empty docs and the census under-counts).
    The oracle is DuckDB's LEFT JOIN LATERAL unnest — the SQL spelling
    of the same null-preserving shape."""
    d = load(spark, sf_dir, "documents")
    long_words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda w: F.length(w) >= 12,
    )
    return (
        d.select("doc_id", "lang", F.explode_outer(long_words).alias("w"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("w").isNull().cast("int")).cast("bigint").alias("n_docs_without"),
            F.count("w").cast("bigint").alias("n_long_words"),
        )
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@register(
    "token_count_bpe",
    survey="text-analysis (extension: BPE-style pre-tokenizer counts)",
    oracle=rf"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS BIGINT)
           AS bpe_tokens,
       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
       round(sum(len(regexp_extract_all(text, '{_BPE_PATTERN}')))
             / CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE), 6)
           AS bpe_per_word
FROM documents
GROUP BY lang
""",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer counts: letter runs, single digits, and
    single punctuation marks each count as one token (the GPT-2
    pre-tokenizer's shape without the merges) — the budget estimator a
    training pipeline runs BEFORE the real tokenizer, compared against
    whitespace counts as the bpe_per_word inflation ratio.  One
    vectorized regexp per document, pure codegen; the ratio divides
    two exact integer sums."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0)))
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    agg = d.select("lang", bpe.alias("bpe"), ws.alias("ws")).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
    )
    return agg.select(
        "lang", "n_docs", "bpe_tokens", "ws_tokens",
        F.round(
            F.col("bpe_tokens") / F.col("ws_tokens").cast("double"), 6
        ).alias("bpe_per_word"),
    )


@register(
    "bigram_collocations",
    survey="text-analysis (extension: collocations by lift)",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents
),
bg AS (
    SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bigram
    FROM toks WHERE len(ws) >= 2
),
uni AS (
    SELECT unnest(ws) AS w FROM toks
),
bg_counts AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_xy FROM bg GROUP BY bigram),
uni_counts AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY w),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM uni),
scored AS (
    SELECT b.bigram, b.n_xy,
           round((b.n_xy * t.n_tot) / CAST(u1.n * u2.n AS DOUBLE), 6) AS lift
    FROM bg_counts b
    JOIN uni_counts u1 ON u1.w = split_part(b.bigram, ' ', 1)
    JOIN uni_counts u2 ON u2.w = split_part(b.bigram, ' ', 2)
    CROSS JOIN tot t
    WHERE b.n_xy >= 5
)
SELECT bigram, n_xy, lift, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (ORDER BY lift DESC, bigram) AS rk FROM scored
)
WHERE rk <= 10
""",
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-10 bigrams by LIFT
    n(xy)·N / (n(x)·n(y)) — PMI's ordering with the log dropped, so
    the score is one division of exact integer products (log differs
    in the last ulp across libms; the monotone transform doesn't
    change the ranking).  Minimum count 5 screens noise.  Two
    partial-agg shuffles plus two joins against the (broadcastable)
    unigram counts — phrase mining over a 100 TB corpus is this exact
    plan."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = d.select(ws.alias("ws")).filter(F.size("ws") >= 2)
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ws", i), F.element_at("ws", i + 1)
                ),
            )
        ).alias("bigram")
    )
    uni = d.select(F.explode(ws).alias("w"))
    bg_counts = bigrams.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    ).filter(F.col("n_xy") >= 5)
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # Corpus token total as a 1-row broadcast agg over the unigram
    # counts (Σ n == uni.count()) instead of an eager uni.count() —
    # r13, guide §1.2: the count was a SECOND full tokenize+explode
    # pass over the corpus per run; the distinct-word frame already
    # holds the total.
    tot = uni_counts.agg(F.sum("n").cast("bigint").alias("n_tot"))
    u1 = uni_counts.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = uni_counts.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    scored = (
        bg_counts.withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "n_xy",
            F.round(
                (F.col("n_xy") * F.col("n_tot")) / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    # Distributed top-10: orderBy+limit is a TakeOrdered (per-partition
    # top-k, O(k) merge) — the global row_number window only ever sees
    # the 10 surviving rows, never the full bigram table.
    top = scored.orderBy(F.desc("lift"), F.asc("bigram")).limit(10)
    w = Window.orderBy(F.desc("lift"), F.asc("bigram"))
    return top.withColumn("rk", F.row_number().over(w))


# --- benchmark decontamination (train/eval n-gram overlap) ------------------

_DECON_N = 5  # 13-gram in GPT-3/C4 practice; 5 fits the short test docs


@register(
    "decontaminate_ngram_overlap",
    survey="LLM-pipeline extension: train/eval n-gram decontamination",
    bench=True,
    oracle=rf"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-seed-1'), 1, 8))::BIGINT % 100 < 90
                THEN 'train' ELSE 'eval' END AS split,
           string_split_regex(trim(text), '\s+') AS ws
    FROM documents
),
grams AS (
    SELECT doc_id, split,
           unnest(CASE WHEN len(ws) >= {_DECON_N}
                THEN list_distinct(list_transform(range(1, len(ws) - {_DECON_N - 2}),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))
                ELSE [array_to_string(ws, ' ')] END) AS g
    FROM toks
),
hits AS (
    SELECT t.doc_id, t.g, e.doc_id AS eval_doc
    FROM grams t
    JOIN grams e ON t.g = e.g
    WHERE t.split = 'train' AND e.split = 'eval'
)
SELECT doc_id,
       CAST(count(DISTINCT g) AS BIGINT) AS n_shared_grams,
       CAST(count(DISTINCT eval_doc) AS BIGINT) AS n_eval_docs_hit
FROM hits
GROUP BY doc_id
""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the GPT-3/C4 pre-training hygiene
    step: flag TRAIN documents sharing any word-{n}-gram with any EVAL
    document (split = the same deterministic md5 split as
    `train_test_split`).  Returns each contaminated train doc with its
    distinct shared-gram count and the number of eval docs hit.

    Scale shape: both sides explode to DISTINCT n-grams and meet in an
    EQUI-join on the gram — an inverted-index probe whose shuffle is
    proportional to gram frequency, never |train|×|eval|.  At 100 TB
    the eval side (benchmarks) is tiny: broadcast it and the scan of
    the train corpus stays a single narrow pass."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.trim("text"), r"\s+")
    # single-parse gram/split expressions (r13, guide §5/§7.3) —
    # identical arithmetic to the former python-lambda builds
    cat = ", ".join(f"element_at(ws, i + {j})" for j in range(_DECON_N))
    grams_arr = F.expr(
        f"CASE WHEN size(ws) >= {_DECON_N} THEN array_distinct("
        f"transform(sequence(1, size(ws) - {_DECON_N - 1}), "
        f"i -> concat_ws(' ', {cat}))) "
        "ELSE array(concat_ws(' ', ws)) END"
    )
    split = F.expr(
        f"CASE WHEN {split_bucket_sql('CAST(doc_id AS STRING)')} < 90 THEN 'train' ELSE 'eval' END"
    )
    grams = (
        d.select("doc_id", split.alias("split"), ws.alias("ws"))
        .select("doc_id", "split", F.explode(grams_arr).alias("g"))
    )
    train = grams.filter(F.col("split") == "train").select("doc_id", "g")
    ev = grams.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_doc"), "g"
    )
    return (
        train.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").cast("bigint").alias("n_shared_grams"),
            F.countDistinct("eval_doc").cast("bigint").alias("n_eval_docs_hit"),
        )
    )


# --- n-gram novelty / contribution scoring ----------------------------------


@register(
    "ngram_novelty_scores",
    survey="text-analysis (extension: first-occurrence n-gram novelty — per-doc corpus contribution)",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
),
g AS (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 3
                  THEN list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                  ELSE [array_to_string(ws, ' ')] END) AS gram
    FROM toks
),
flagged AS (
    SELECT doc_id, gram,
           min(doc_id) OVER (PARTITION BY gram) AS first_doc
    FROM g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       floor(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE
             / count(*) * 1e6 + 0.5) / 1e6 AS novelty_frac
FROM flagged
GROUP BY doc_id
""",
)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the contribution/attribution score
    used in corpus valuation and dedup-aware curation: a document's
    distinct word-3-grams are attributed to the lowest doc_id that
    contains them (any deterministic total order works — ingestion
    order in production), and novelty_frac is the fraction of the
    doc's grams it introduced to the corpus.  A doc whose content is
    entirely restatement of earlier docs scores ~0 and is a drop
    candidate even when no single pairwise near-dup clears a
    threshold — the corpus-level complement of `dedup_*`'s pairwise
    view and `cross_doc_dup_spans`' coverage view.

    Scale shape: one gram explode, one window min over the gram key
    (the inverted-index grain — no join-back needed, the first-owner
    flag rides the same shuffle), one doc-grain aggregate.  No
    pairwise comparison anywhere; shuffle volume is corpus gram
    occurrences, the same as every other inverted-index operator
    here."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size("ws")
    grams_arr = F.when(
        n >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("ws", i),
                    F.element_at("ws", i + 1),
                    F.element_at("ws", i + 2),
                ),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("ws"))))
    g = d.select("doc_id", ws.alias("ws")).select(
        "doc_id", F.explode(grams_arr).alias("gram")
    )
    w = Window.partitionBy("gram")
    flagged = g.withColumn("first_doc", F.min("doc_id").over(w))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr(
                round_stable_sql("CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)", 6)
            ).alias("novelty_frac"),
        )
    )


# --- Gopher-style repetition flags ------------------------------------------


@register(
    "gopher_repetition_flags",
    survey="LLM-pipeline extension: repetition/boilerplate quality rules",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
),
words AS (
    SELECT doc_id, unnest(ws) AS w FROM toks
),
wc AS (
    SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
),
wstat AS (
    SELECT doc_id, max(c) AS top_w, sum(c) AS n_w FROM wc GROUP BY doc_id
),
bigrams AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS b
    FROM toks WHERE len(ws) >= 2
),
bc AS (
    SELECT doc_id, b, count(*) AS c FROM bigrams GROUP BY doc_id, b
),
bstat AS (
    SELECT doc_id, max(c) AS top_b, sum(c) AS n_b FROM bc GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n_w AS BIGINT) AS n_words,
       round(w.top_w::DOUBLE / w.n_w, 6) AS frac_top_word,
       round(coalesce(b.top_b::DOUBLE / b.n_b, 0.0), 6) AS frac_top_bigram,
       w.top_w::DOUBLE / w.n_w > 0.20 AS flag_repetitive_word,
       coalesce(b.top_b::DOUBLE / b.n_b, 0.0) > 0.18 AS flag_repetitive_bigram
FROM wstat w LEFT JOIN bstat b ON w.doc_id = b.doc_id
""",
)
def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate quality rules in the style of the Gopher
    corpus filters (Rae et al. 2021, appendix A1.1 — published rule
    set): per document, the frequency share of the single most common
    word and bigram, with flags at the published-style thresholds
    (top-word share > 0.20, top-bigram share > 0.18).  Repetitive
    boilerplate (menus, SEO spam, template text) scores high and is
    dropped before pre-training.

    Scale shape: explode → two-level partial-aggregated groupBys keyed
    (doc_id, gram) then doc_id — fully map-side combinable, one
    shuffle pair per gram order, no Python."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    toks = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("ws"))

    words = toks.select("doc_id", F.explode("ws").alias("w"))
    wstat = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_w"), F.sum("c").alias("n_w"))
    )
    bigrams = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat_ws(" ", F.element_at("ws", i), F.element_at("ws", i + 1)),
            )
        ).alias("b"),
    )
    bstat = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_b"), F.sum("c").alias("n_b"))
    )
    ftw = F.col("top_w").cast("double") / F.col("n_w")
    ftb = F.coalesce(F.col("top_b").cast("double") / F.col("n_b"), F.lit(0.0))
    return wstat.join(bstat, "doc_id", "left").select(
        "doc_id",
        F.col("n_w").cast("bigint").alias("n_words"),
        F.round(ftw, 6).alias("frac_top_word"),
        F.round(ftb, 6).alias("frac_top_bigram"),
        (ftw > 0.20).alias("flag_repetitive_word"),
        (ftb > 0.18).alias("flag_repetitive_bigram"),
    )


# --- dataset mixture resampling ---------------------------------------------

# Target mixture weights: source srcK gets weight ∝ (K+1) — a
# deterministic non-uniform target over the fixture's 20 uniform
# sources, exercising a different keep-rate per source.
_MIX_WEIGHTS = tuple((f"src{k}", float(k + 1)) for k in range(20))
_MIX_VALUES = ",\n           ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS)


@register(
    "mixture_resample",
    survey="LLM-pipeline extension: dataset mixture resampling",
    oracle=rf"""
WITH w(source, wgt) AS (
    VALUES {_MIX_VALUES}
),
counts AS (
    SELECT d.source, count(*) AS n_docs, any_value(w.wgt) AS wgt
    FROM documents d JOIN w ON d.source = w.source
    GROUP BY d.source
),
t AS (
    SELECT min(n_docs / wgt) AS t_per_wgt FROM counts
),
rates AS (
    SELECT source, n_docs,
           least(wgt * t.t_per_wgt / n_docs, 1.0) AS rate
    FROM counts CROSS JOIN t
),
kept AS (
    SELECT d.source, count(*) AS n_kept
    FROM documents d
    JOIN rates r ON d.source = r.source
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|mix-seed-1'), 1, 8))::BIGINT
          % 1000000 < CAST(floor(r.rate * 1000000.0 + 0.5) AS BIGINT)
    GROUP BY d.source
)
SELECT r.source,
       CAST(r.n_docs AS BIGINT) AS n_docs,
       floor(r.rate * 1000000.0 + 0.5) / 1000000.0 AS keep_rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k ON r.source = k.source
""",
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture resampling — the pre-training data-mixing step
    (Pile/LLaMA style): given target per-source weights, compute the
    largest total that honors the mixture without upsampling
    (T = min_s n_s/w_s), derive per-source keep rates w_s·T/n_s, and
    keep documents by a deterministic seeded hash — the same doc is
    kept or dropped on every run and on every engine.

    Scale shape: one count aggregate, a broadcast rates join, one
    hash-filter scan, one final rollup — the rates table is
    |sources|-sized no matter how big the corpus, and the sample
    needs no shuffle beyond the counts.  Stable floor-rounding on the
    rate (not engine round()) keeps the integer hash threshold
    bit-identical across engines."""
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "source")
    wdf = F.broadcast(
        spark.createDataFrame(list(_MIX_WEIGHTS), "source string, wgt double")
    )
    counts = (
        d.join(wdf, "source")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.first("wgt").alias("wgt"))
    )
    t_per_wgt = counts.agg(
        F.min(F.col("n_docs") / F.col("wgt")).alias("t")
    )
    rates = counts.crossJoin(F.broadcast(t_per_wgt)).select(
        "source",
        "n_docs",
        F.least(F.col("wgt") * F.col("t") / F.col("n_docs"), F.lit(1.0)).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|mix-seed-1"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    threshold = F.floor(F.col("rate") * 1_000_000.0 + F.lit(0.5)).cast("bigint")
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(u < threshold)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(F.broadcast(kept), "source", "left").select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.expr(round_stable_sql("rate", 6)).alias("keep_rate"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


@register(
    "bm25_retrieval",
    survey="text-analysis extension: BM25 ranked retrieval",
    oracle=rf"""
WITH d2 AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
),
d3 AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM d2),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS total_tokens
    FROM d3
),
tf AS (
    SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(ws) AS w FROM d3)
    WHERE w IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
    GROUP BY doc_id, dl, w
),
dfq AS (
    SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM tf GROUP BY w
),
s AS (
    SELECT t.doc_id, t.w,
           ((CAST(st.n_docs - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
           * ((CAST(t.tf AS DOUBLE) * {_BM25_K1 + 1.0}) /
              (CAST(t.tf AS DOUBLE)
               + {_BM25_K1} * ({1.0 - _BM25_B}
                  + ({_BM25_B} * CAST(t.dl * st.n_docs AS DOUBLE))
                    / CAST(st.total_tokens AS DOUBLE)))) AS sc
    FROM tf t JOIN dfq d USING (w) CROSS JOIN stats st
),
p AS (
    SELECT doc_id,
{", ".join(f"           max(CASE WHEN w = '{t}' THEN sc ELSE 0.0 END) AS s{i}" for i, t in enumerate(_BM25_TERMS))},
           CAST(count(DISTINCT w) AS BIGINT) AS n_terms
    FROM s GROUP BY doc_id
)
SELECT doc_id, n_terms,
       round({" + ".join(f"s{i}" for i in range(len(_BM25_TERMS)))}, 6) AS bm25,
       CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        ORDER BY round({" + ".join(f"s{i}" for i in range(len(_BM25_TERMS)))}, 6) DESC, doc_id
    ) AS rk
    FROM p
)
WHERE rk <= {_BM25_TOPK}
""",
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi-BM25 ranked retrieval for a fixed query over `documents`
    (k1=1.2, b=0.75), top-10 docs — the ranked-retrieval counterpart
    of `tfidf_top_terms` for training-data curation (e.g. pulling the
    most on-topic documents for a target domain mix).

    Engine-determinism (repo oracle discipline): the idf is the BM25
    RATIONAL core (N - df + ½)/(df + ½) with the ln() dropped — ln
    differs in the last ulp across libms and a 6-dp rounding boundary
    would flip; ranking for each term is unchanged (ln is monotone)
    and the fixed-order sum across the query's terms is spelled
    s0 + s1 + s2 identically in both engines, so the total is
    bit-identical (no engine-ordered float summation anywhere).
    avgdl is carried as the exact pair (Σdl, N) and folded in as
    dl·N/Σdl — one double division, no pre-averaged intermediate.

    Scale shape: the `w IN (query terms)` filter lands BEFORE any
    aggregation, so the posting lists of the query terms are the only
    rows shuffled (at 100 TB: ~df(t) rows per term, not the corpus);
    df is a |q|-row broadcast; the per-doc pivot is one partial-agg
    groupBy; top-k is orderBy+limit, which Spark plans as
    TakeOrderedAndProject — per-partition partial top-k, no
    single-partition global sort even when a common query term
    matches millions of docs.  The rank window then runs over just
    the k survivors.  No vocabulary or score table ever materializes
    beyond the matched docs."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    d3 = d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws"),
    ).select("doc_id", F.size("ws").cast("bigint").alias("dl"), "ws")
    stats = d3.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    tf = (
        d3.select("doc_id", "dl", F.explode("ws").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfq = tf.groupBy("w").agg(F.countDistinct("doc_id").cast("bigint").alias("df"))

    idf = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    norm = (F.col("tf").cast("double") * F.lit(_BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0 - _BM25_B)
            + (F.lit(_BM25_B) * (F.col("dl") * F.col("n_docs")).cast("double"))
            / F.col("total_tokens").cast("double")
        )
    )
    scored = (
        tf.join(F.broadcast(dfq), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "w", (idf * norm).alias("sc"))
    )
    pivot = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("w") == t, F.col("sc")).otherwise(F.lit(0.0))).alias(
                f"s{i}"
            )
            for i, t in enumerate(_BM25_TERMS)
        ],
        F.countDistinct("w").cast("bigint").alias("n_terms"),
    )
    total = sum(
        (F.col(f"s{i}") for i in range(1, len(_BM25_TERMS))), start=F.col("s0")
    )
    topk = (
        pivot.withColumn("bm25", F.round(total, 6))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return topk.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "n_terms", "bm25", "rk"
    )


@register(
    "unigram_ll_quality",
    survey="text-analysis (extension: CCNet-style LM perplexity bucketing)",
    oracle=r"""
WITH toks AS (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|lm-seed-1'), 1, 8))::BIGINT
               % 100 < 90 AS is_train,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
    FROM documents
),
lm AS (
    SELECT w, count(*)::DOUBLE AS c FROM toks WHERE is_train GROUP BY w
),
consts AS (
    SELECT sum(c) AS n, count(*)::DOUBLE AS v FROM lm
),
scored AS (
    SELECT t.doc_id,
           count(*) AS n_tokens,
           sum(floor(ln(coalesce(l.c + 1.0, 1.0)
                        / (consts.n + consts.v + 1.0)) * 1e6 + 0.5)) AS sum_k
    FROM toks t
    LEFT JOIN lm l ON t.w = l.w, consts
    WHERE NOT t.is_train
    GROUP BY t.doc_id
),
nlls AS (
    SELECT doc_id, n_tokens, -(sum_k / (1e6 * n_tokens)) AS nll FROM scored
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       floor(nll * 1e6 + 0.5) / 1e6 AS nll,
       CAST(ntile(4) OVER (ORDER BY floor(nll * 1e6 + 0.5) / 1e6, doc_id) AS INT)
           AS ppl_bucket
FROM nlls
""",
)
def unigram_ll_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing: train an add-one-smoothed
    unigram LM on the deterministic 90% doc split, score each held-out
    doc by mean negative log-likelihood, and quartile-bucket (bucket 1
    = most in-distribution — the docs a perplexity filter keeps).

    Scale shape: the LM is a token-keyed aggregate (one vocab-sized
    shuffle with map-side combine); scoring is an equi-join on the
    token key — at 100 TB both partition on the same key and nothing
    is collected to the driver.  The (N, V) scalars ride along as a
    broadcast single row.

    Hash-stability: each token's log-likelihood is QUANTIZED to an
    integer (floor(ln·1e6 + 0.5)) before the per-doc aggregation, so
    the sum is an exact bigint (order-independent across partitionings)
    and the per-doc nll is one final IEEE division — an unquantized
    avg(ln(...)) differs from DuckDB's in the low bits by summation
    order, and at a 1e-6 rounding boundary that flips the displayed
    nll and the ntile bucket (ADVICE r3)."""
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
    toks = d.select(
        "doc_id",
        is_train.alias("is_train"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    lm = toks.filter("is_train").groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    consts = lm.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("double").alias("v")
    )
    denom = F.col("n") + F.col("v") + F.lit(1.0)
    tok_k = F.floor(
        F.ln(F.coalesce(F.col("c") + 1.0, F.lit(1.0)) / denom) * F.lit(1e6)
        + F.lit(0.5)
    )
    scored = (
        toks.filter(~F.col("is_train"))
        .join(lm, "w", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(tok_k).alias("sum_k"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                -(
                    F.col("sum_k").cast("double")
                    / (F.lit(1e6) * F.col("n_tokens").cast("double"))
                )
            ).alias("nll"),
        )
    )

    # Distributed exact ntile(4): a bare `ntile().over(orderBy(...))`
    # window funnels EVERY row through one partition.  Instead:
    # (a) per-value rank j — a window PARTITIONED by the rounded nll
    #     value (distributed);
    # (b) cumulative count over the DISTINCT rounded values (the only
    #     global window, but over the value dictionary, which the
    #     groupBy already reduced by orders of magnitude);
    # (c) global rank i = cum_before + j, then the closed-form ntile
    #     bucket split (first n mod 4 buckets get ceil(n/4) rows).
    # The DuckDB oracle keeps the plain ntile — outputs are identical.
    base = scored.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.expr(round_stable_sql("nll", 6)).alias("nll"),
    )
    vals = base.groupBy("nll").agg(F.count(F.lit(1)).alias("c"))
    w_vals = Window.orderBy("nll").rowsBetween(Window.unboundedPreceding, -1)
    vals = vals.select(
        "nll", F.coalesce(F.sum("c").over(w_vals), F.lit(0)).alias("cum_before")
    )
    totals = base.agg(F.count(F.lit(1)).alias("n_total"))
    w_in_val = Window.partitionBy("nll").orderBy("doc_id")
    ranked = (
        base.withColumn("j", F.row_number().over(w_in_val))
        .join(vals, "nll")
        .crossJoin(F.broadcast(totals))
        .withColumn("i", F.col("cum_before") + F.col("j"))
    )
    n, i = F.col("n_total"), F.col("i")
    size_small = F.floor(n / F.lit(4))
    size_big = size_small + F.lit(1)
    n_big = n % 4
    cut = n_big * size_big
    bucket = F.when(i <= cut, F.ceil(i / size_big)).otherwise(
        n_big + F.ceil((i - cut) / size_small)
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "nll",
        bucket.cast("int").alias("ppl_bucket"),
    )


_SPAN_N = 8  # tokens per span gram
_SPAN_DF = 2  # duplicated = the span occurs in >= 2 distinct docs
_SPAN_KEEP = 0.3  # keep docs with <= 30% of tokens inside duplicated spans


def _span_grams_expr() -> "F.Column":
    """(pos, gram) span-hash array over a (ws, n_tokens) row — shared
    by `cross_doc_dup_spans` and `dedup_span_removal`.  Single F.expr
    parse (r13, guide §5/§7.3): identical transform/struct/md5/slice
    arithmetic as the former python-lambda build."""
    return F.expr(
        f"CASE WHEN n_tokens >= {_SPAN_N} THEN "
        f"transform(sequence(1, n_tokens - {_SPAN_N - 1}), i -> "
        f"struct(CAST(i AS INT) AS pos, "
        f"md5(array_join(slice(ws, i, {_SPAN_N}), ' ')) AS gram)) "
        "ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, gram: STRING>>) END"
    )


@register(
    "cross_doc_dup_spans",
    survey="text-analysis (extension: corpus-duplicate span coverage, Lee et al. 2022 style)",
    bench=True,
    oracle=rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
),
g AS (
    SELECT doc_id,
           len(ws) AS n_tokens,
           unnest(range(1, greatest(len(ws) - {_SPAN_N - 1}, 0) + 1)) AS pos,
           unnest(list_transform(range(1, greatest(len(ws) - {_SPAN_N - 1}, 0) + 1),
               i -> md5(array_to_string(
                        ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + {_SPAN_N - 1}], ' '))))
               AS gram
    FROM toks
),
dup AS (
    SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= {_SPAN_DF}
),
flagged AS (
    SELECT g.doc_id, g.pos FROM g JOIN dup ON g.gram = dup.gram
),
cov AS (
    SELECT doc_id, count(DISTINCT p) AS covered_tokens, count(*) AS n_dup_positions
    FROM (
        SELECT doc_id, pos, unnest(range(pos, pos + {_SPAN_N})) AS p FROM flagged
    )
    GROUP BY doc_id
),
ndup AS (
    SELECT doc_id, count(*) AS n_dup_grams FROM flagged GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.ws) AS INT) AS n_tokens,
       CAST(coalesce(n.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       floor(coalesce(c.covered_tokens, 0)::DOUBLE / len(t.ws) * 1e6 + 0.5) / 1e6
           AS covered_frac,
       CAST(CASE WHEN coalesce(c.covered_tokens, 0)::DOUBLE / len(t.ws)
                      <= {_SPAN_KEEP} THEN 1 ELSE 0 END AS INT) AS keep
FROM toks t
LEFT JOIN ndup n ON t.doc_id = n.doc_id
LEFT JOIN cov c ON t.doc_id = c.doc_id
""",
)
def cross_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-span detection (the substring-dedup idea
    of Lee et al. 2022, *Deduplicating Training Data Makes Language
    Models Better*, re-expressed relationally): hash every 8-token
    span, find spans occurring in >= 2 distinct docs, and per doc
    measure the fraction of token positions covered by the union of
    duplicated spans; docs over 30% coverage are flagged for drop.

    Scale shape: span hashing is narrow per-doc work; the duplicate
    set is one hash-keyed aggregate and one equi-join back on the
    span key (no pairwise comparison anywhere); the interval union is
    position-explode + distinct within each doc's partition.  Every
    stage partitions on an equi-key, so the plan survives a 100x
    corpus."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select("doc_id", ws.alias("ws")).select(
        "doc_id", "ws", F.size("ws").alias("n_tokens")
    )
    gp = _span_grams_expr()
    # The span-hash frame feeds BOTH the duplicate-set aggregate and
    # the join-back; persist it PARTITIONED BY gram so the
    # tokenize+md5 narrow stage runs once AND the df-aggregate and the
    # dup join-back both reuse that one hash(gram) distribution with
    # no further exchanges (same subset-partitioning move as the
    # flagship's evidence silver — measured 1.45 s → 0.95 s at sf0.1).
    # At scale: the silver span table, written bucketed by gram.
    grams = (
        base.select("doc_id", F.explode(gp).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
        .repartition("gram")
    )
    grams = tracked_persist(grams, "cross_doc_dup_spans.grams")
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _SPAN_DF)
        .select("gram")
    )
    flagged = grams.join(dup, "gram")
    # Interval-union coverage WITHOUT the 8x position explode (r13,
    # guide §2.3 "shuffle fewer bytes"): the duplicated spans are all
    # exactly _SPAN_N tokens long, so the size of their union has the
    # closed form Σ min(_SPAN_N, pos_i − pos_{i−1}) over the doc's
    # sorted span starts (first span contributes _SPAN_N; a gap ≥
    # _SPAN_N means disjoint, < _SPAN_N means the overlap is shared).
    # Integer-exact equal to the old countDistinct over the exploded
    # positions, but the exchange now carries one row per flagged gram
    # instead of 8 exploded positions expanded ×2 by the double
    # countDistinct.  (pos is unique per doc — one gram per position —
    # so n_dup_grams is a plain count.)
    cov = (
        flagged.selectExpr(
            "*",
            f"least({_SPAN_N}, coalesce(pos - lag(pos) OVER "
            f"(PARTITION BY doc_id ORDER BY pos ASC), {_SPAN_N})) AS inc",
        )
        .groupBy("doc_id")
        .agg(
            F.expr("sum(inc)").alias("covered_tokens"),
            F.expr("count(1)").alias("n_dup_grams"),
        )
    )
    frac = "CAST(coalesce(covered_tokens, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
    return (
        base.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(n_tokens AS INT) AS n_tokens",
            "CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams",
            "CAST(coalesce(covered_tokens, 0) AS BIGINT) AS covered_tokens",
            f"{round_stable_sql(frac, 6)} AS covered_frac",
            f"CAST({frac} <= {flit(_SPAN_KEEP)} AS INT) AS keep",
        )
    )


_BPE_MERGES = 20


def _bpe_oracle(merges: int = _BPE_MERGES) -> str:
    """Unrolled-CTE replay of the full BPE training loop — the same
    finite-iteration-replay pattern as `quality_filter_logistic_gd`'s
    5 GD steps and the PCA power method: each merge round is one
    (pair-count → deterministic argmax → corpus-wide merge) CTE trio,
    chained 20 deep.  This retires the op's former rows-only status:
    the "inherently sequential" fold step IS replayable in SQL.

    The greedy non-overlapping left-to-right merge (Spark side: a
    higher-order-function fold) is replayed as STRING surgery: symbols
    are chr(10)-joined (tokens are split on \\s+, so no symbol can
    contain the separator), every separator is doubled so adjacent
    matches never share a boundary character, one replace() applies
    the round's rule (SQL replace is left-to-right non-overlapping —
    exactly the greedy BPE scan), then separators are un-doubled.
    Boundary runs stay exactly 2 wide by construction (each match
    consumes one sep per side and its replacement restores one), so
    the un-double is lossless.

    CTEs are MATERIALIZED: each round is referenced by both the next
    round's pair count and its merge application, and DuckDB's default
    inlining would double the plan per round (2^20 blowup — measured:
    the inlined form never finishes; materialized runs in ~0.3 s at
    sf0.001)."""
    sel = "\nUNION ALL\n".join(
        f'SELECT CAST({k} AS INT) AS step, l AS "left", r AS "right", '
        f"l || r AS merged, n AS pair_count FROM bs{k}"
        for k in range(1, merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_cte_chain(merges)) + "\n" + sel


def _bpe_cte_chain(merges: int, final_state: bool = False) -> list[str]:
    """The shared unrolled training chain (see `_bpe_oracle`), used
    VERBATIM by both the induction oracle and the encode oracle (the
    merge table's consumer) — one builder, so the encoder can never
    disagree with the training it replays.  `word` is threaded through
    every round so the final symbol state remains word-addressable;
    with final_state=True the chain also builds sy{merges} (the fully
    encoded vocabulary — training itself never needs it because round
    k's merge application only feeds round k+1's pair count)."""
    sep = "chr(10)"
    ctes = [
        rf"""w0 AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents
),
words AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM w0 WHERE len(word) > 0 GROUP BY word
),
sy0 AS MATERIALIZED (
    SELECT word, cnt,
           array_to_string(list_transform(generate_series(1, length(word)),
               i -> substr(word, i, 1)), {sep}) AS sym
    FROM words
)"""
    ]
    for k in range(1, merges + 1):
        p = k - 1
        ctes.append(
            f"""pc{k} AS (
    SELECT ls[t.x] AS l, ls[t.x + 1] AS r, CAST(sum(cnt) AS BIGINT) AS n
    FROM (SELECT cnt, string_split(sym, {sep}) AS ls FROM sy{p}),
         LATERAL unnest(generate_series(1, len(ls) - 1)) AS t(x)
    GROUP BY 1, 2
),
bs{k} AS MATERIALIZED (SELECT l, r, n FROM pc{k} ORDER BY n DESC, l, r LIMIT 1)"""
        )
        if k < merges or final_state:
            ctes.append(
                f"""sy{k} AS MATERIALIZED (
    SELECT s.word, s.cnt,
           trim(replace(replace(replace({sep} || s.sym || {sep}, {sep}, {sep} || {sep}),
                {sep} || b.l || {sep} || {sep} || b.r || {sep},
                {sep} || b.l || b.r || {sep}),
                {sep} || {sep}, {sep}), {sep}) AS sym
    FROM sy{p} s CROSS JOIN bs{k} b
)"""
            )
    return ctes


@register(
    "bpe_merge_induction",
    survey="text-analysis (extension: BPE tokenizer-merge learning, Sennrich et al. 2016)",
    oracle=_bpe_oracle(),
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 20 BPE merges from the corpus — actual
    tokenizer TRAINING, not just tokenization: start from characters,
    and per round (a) count adjacent symbol pairs weighted by word
    frequency, (b) pick the argmax pair (exact integer counts,
    count-desc / left-asc / right-asc tie-break → fully
    deterministic), (c) apply the merge corpus-wide as a native
    higher-order-function fold (greedy non-overlapping left-to-right,
    the reference BPE scan), localCheckpoint truncating the plan per
    round.

    Distribution shape: state is the word-frequency symbol table (one
    row per distinct word — vocabulary-sized, stays partitioned); each
    round is one partial-agg shuffle over pair keys plus a 1-row
    collect (the chosen rule is a scalar decision, exactly like a
    k-means centroid update).  No per-word driver loop at any scale.

    Oracle-backed since r10 (formerly rows-only): the full 20-round
    training loop is replayed in DuckDB as unrolled MATERIALIZED CTEs
    (`_bpe_oracle` — the merge fold becomes deterministic string
    surgery on a separator-doubled symbol string), so the learned
    merge TABLE is value-hash-checked cross-engine.  The pure-Python
    replay in tests/test_rows_only.py stays as a third independent
    implementation pinning the same sequence."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    words = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substr(F.col("word"), i, F.lit(1)),
    )
    syms = words.select("cnt", chars.alias("symbols")).localCheckpoint()

    rules: list[tuple[int, str, str, str, int]] = []
    for step in range(1, _BPE_MERGES + 1):
        pair_structs = F.when(
            F.size("symbols") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("symbols") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("symbols"), i).alias("l"),
                    F.element_at(F.col("symbols"), i + F.lit(1)).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            syms.select("cnt", F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, n = best[0].l, best[0].r, int(best[0].n)
        merged = l + r
        rules.append((step, l, r, merged, n))
        fold = F.aggregate(
            F.col("symbols"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (s == F.lit(r)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        syms = syms.select("cnt", fold.alias("symbols")).localCheckpoint()

    return spark.createDataFrame(
        rules, "step int, left string, right string, merged string, pair_count bigint"
    )


@register(
    "deterministic_shuffle_shards",
    survey="LLM-pipeline extension: seeded global shuffle for training export",
    oracle="""
WITH hashed AS (
    SELECT doc_id, n_chars,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shuffle-seed-1'), 1, 8))::BIGINT AS h
    FROM documents
),
ranked AS (
    SELECT *, h % 8 AS shard,
           row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rk
    FROM hashed
)
SELECT CAST(shard AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(rk * (h % 997)) AS BIGINT) AS order_checksum
FROM ranked
GROUP BY shard
""",
)
def deterministic_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global shuffle for training-data export: every document
    gets a salted md5 hash; the hash's low bits pick one of 8 shards
    and the hash value orders documents WITHIN the shard.  The result
    is a uniform random-but-reproducible global order — re-running on
    different cluster sizes, partitionings, or days yields byte-
    identical shards (no rand(), no zipWithIndex), which is what makes
    training runs repeatable and resumable.

    Scale shape: shard assignment is a stateless projection; the
    within-shard order comes from a window PARTITIONED on the shard
    key, so each shard sorts independently (at 100 TB: 8 parallel
    sorts of ~1/8 of the corpus each — in a real export you'd use
    1024+ shards, keeping every sort executor-sized; nothing is ever
    globally sorted through one task).  `order_checksum` folds the
    per-shard sequence into an exact integer so the oracle verifies
    the ORDER, not just membership."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|shuffle-seed-1"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = d.select("doc_id", "n_chars", h.alias("h")).withColumn(
        "shard", (F.col("h") % 8).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        hashed.withColumn("rk", F.row_number().over(w))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("rk") * (F.col("h") % 997)).cast("bigint").alias("order_checksum"),
        )
    )


@register(
    "domain_token_budget",
    survey="LLM-pipeline extension: per-domain corpus budget (C4/Dolma-style source caps)",
    oracle="""
WITH per_src AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY source
),
tot AS (
    SELECT CAST(floor(sum(chars) * 6 / 10) AS BIGINT) AS budget,
           count(*) AS n_src,
           CAST(floor(sum(chars) * 6 / 10 / count(*)) AS BIGINT) AS fair
    FROM per_src
),
flagged AS (
    SELECT p.*, t.budget, t.fair, (p.chars > t.fair) AS over
    FROM per_src p CROSS JOIN tot t
),
redist AS (
    SELECT CAST(sum(CASE WHEN NOT over THEN chars ELSE 0 END) AS BIGINT) AS under_chars,
           sum(CASE WHEN over THEN 1 ELSE 0 END) AS n_over
    FROM flagged
)
SELECT f.source, f.n_docs, f.chars,
       CAST(CASE WHEN NOT f.over THEN f.chars
                 ELSE floor((f.budget - r.under_chars) / r.n_over) END AS BIGINT)
           AS alloc_chars,
       f.over AS capped
FROM flagged f CROSS JOIN redist r
""",
)
def domain_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus budgeting (the C4/Dolma mixture problem):
    given a global budget of 60% of corpus chars, give every source an
    equal fair share, let under-quota sources keep everything, and
    redistribute the unused headroom equally among over-quota sources
    (one water-filling round — integer floor arithmetic throughout so
    the oracle replays it exactly).

    Scale shape: ONE map-side-combined aggregate over the corpus down
    to source grain; everything after operates on the source-cardinality
    frame (thousands of domains at worst) with broadcast-joined 1-row
    scalar frames — at 100 TB the corpus is read once, and no shuffle
    ever moves more than one row per domain."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    tot = per_src.agg(
        F.floor(F.sum("chars") * 6 / 10).cast("bigint").alias("budget"),
        F.count(F.lit(1)).alias("n_src"),
        F.floor(F.sum("chars") * 6 / 10 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("fair"),
    )
    flagged = per_src.crossJoin(F.broadcast(tot)).withColumn(
        "over", F.col("chars") > F.col("fair")
    )
    redist = flagged.agg(
        F.sum(F.when(~F.col("over"), F.col("chars")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("under_chars"),
        F.sum(F.when(F.col("over"), 1).otherwise(0)).alias("n_over"),
    )
    alloc = F.when(~F.col("over"), F.col("chars")).otherwise(
        F.floor((F.col("budget") - F.col("under_chars")) / F.col("n_over"))
    )
    return (
        flagged.crossJoin(F.broadcast(redist))
        .select(
            "source",
            "n_docs",
            "chars",
            alloc.cast("bigint").alias("alloc_chars"),
            F.col("over").alias("capped"),
        )
    )


def _curation_oracle() -> str:
    """Compose the gate's oracle from the COMPONENT oracles verbatim
    (each is a standalone WITH…SELECT — DuckDB allows nested WITH in a
    parenthesized subquery), so the gate can never drift from the
    signals it gates on."""
    from .registry import REGISTRY

    tq = REGISTRY["text_quality_scores"].oracle
    gf = REGISTRY["gopher_repetition_flags"].oracle
    ull = REGISTRY["unigram_ll_quality"].oracle
    return rf"""
WITH tq AS ({tq}),
gf AS ({gf}),
ull AS ({ull}),
dup AS (
    SELECT doc_id,
           row_number() OVER (
               PARTITION BY md5(array_to_string(list_sort(list_distinct(
                   string_split_regex(trim(text), '\s+'))), ' '))
               ORDER BY n_chars DESC, doc_id
           ) AS rk
    FROM documents
)
SELECT tq.doc_id,
       CASE WHEN dup.rk > 1 THEN 'duplicate'
            WHEN gf.flag_repetitive_word OR gf.flag_repetitive_bigram THEN 'repetitive'
            WHEN tq.quality < 0.62 THEN 'low_quality'
            WHEN ull.ppl_bucket = 4 THEN 'ppl_outlier'
            ELSE 'keep' END AS reason,
       (CASE WHEN dup.rk > 1 THEN 'duplicate'
            WHEN gf.flag_repetitive_word OR gf.flag_repetitive_bigram THEN 'repetitive'
            WHEN tq.quality < 0.62 THEN 'low_quality'
            WHEN ull.ppl_bucket = 4 THEN 'ppl_outlier'
            ELSE 'keep' END) = 'keep' AS keep
FROM tq
JOIN dup ON dup.doc_id = tq.doc_id
JOIN gf ON gf.doc_id = tq.doc_id
LEFT JOIN ull ON ull.doc_id = tq.doc_id
"""


@register(
    "curation_decision_gate",
    survey="LLM-pipeline extension: composed corpus curation gate",
    oracle=_curation_oracle(),
)
def curation_decision_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DECISION a training-data pipeline actually ships:
    one keep/drop verdict per document with a priority-ordered reason
    code, composed from the independent signal operators — exact-dup
    canonical rank (highest priority), Gopher repetition flags,
    blended quality score, and the CCNet perplexity bucket (eval-split
    docs only; missing bucket = pass, via left join).

    Built BY CALLING the registered signal queries and joining their
    outputs — the registry is a library, and the oracle is composed
    from the same components' oracle SQL verbatim, so gate and signals
    cannot drift.  All joins are doc_id-keyed (one co-partitioned
    shuffle family at 100 TB); every compared value is already
    cross-engine exact (rounded/integer/boolean), so the CASE ladder
    is deterministic."""
    from .registry import REGISTRY

    tq = REGISTRY["text_quality_scores"].fn(spark, sf_dir).select("doc_id", "quality")
    gf = REGISTRY["gopher_repetition_flags"].fn(spark, sf_dir).select(
        "doc_id", "flag_repetitive_word", "flag_repetitive_bigram"
    )
    ull = REGISTRY["unigram_ll_quality"].fn(spark, sf_dir).select(
        "doc_id", "ppl_bucket"
    )
    d = load(spark, sf_dir, "documents", fan_out=True)
    bow_key = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.trim("text"), r"\s+"))), " ")
    )
    w_dup = Window.partitionBy(bow_key).orderBy(F.desc("n_chars"), F.asc("doc_id"))
    dup = d.select("doc_id", F.row_number().over(w_dup).alias("rk"))

    joined = (
        tq.join(dup, "doc_id")
        .join(gf, "doc_id")
        .join(ull, "doc_id", "left")
    )
    reason = (
        F.when(F.col("rk") > 1, "duplicate")
        .when(
            F.col("flag_repetitive_word") | F.col("flag_repetitive_bigram"),
            "repetitive",
        )
        .when(F.col("quality") < 0.62, "low_quality")
        .when(F.col("ppl_bucket") == 4, "ppl_outlier")
        .otherwise("keep")
    )
    return joined.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


@register(
    "weighted_sample_per_source",
    survey="LLM-pipeline extension: deterministic weighted sampling (Efraimidis-Spirakis)",
    oracle="""
WITH keyed AS (
    SELECT source, doc_id, n_chars,
           round(pow(
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|wsample-seed-1'), 1, 13))::BIGINT
                   / 4503599627370496.0,
               1.0 / n_chars), 9) AS es_key
    FROM documents
    WHERE n_chars > 0
)
SELECT source, doc_id, n_chars, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY es_key DESC, doc_id
    ) AS rk
    FROM keyed
)
WHERE rk <= 5
""",
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministically:
    Efraimidis-Spirakis exponent keys u^(1/w) with u drawn from a
    salted md5 hash (13 hex digits / 2^52 → uniform in [0,1)), w =
    n_chars — longer documents proportionally likelier, the exact
    distribution a size-weighted curation sample needs, yet fully
    reproducible across reruns, partitionings, and engines (no
    rand()).  Top-5 keys per source = the per-domain sample.

    Keys are rounded to 9 dp before ranking with a doc_id tie-break,
    so a last-ulp pow() divergence between libms cannot flip the
    selection except on a ~1e-10-probability rounding boundary — the
    repo's standard defense for transcendental functions in ranked
    outputs.  The key itself is NOT emitted: a 9-dp pow() value has
    no ≤7-dp fixed-point representation, so it would trip the
    registry float-hygiene lint; the selection (rk) is the result.

    Scale shape: stateless key projection + per-source top-k window —
    each domain samples independently; for a global sample swap the
    window for the salted two-level top-k used by
    `negative_sample_pairs`."""
    d = load(spark, sf_dir, "documents", fan_out=True).filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|wsample-seed-1"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 52))
    )
    es_key = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 9)
    keyed = d.select("source", "doc_id", "n_chars", es_key.alias("es_key"))
    return topk_ranked(
        keyed, "PARTITION BY source ORDER BY es_key DESC, doc_id ASC", 5
    ).drop("es_key")


def _hybrid_rrf_oracle() -> str:
    from .registry import REGISTRY

    bm25 = REGISTRY["bm25_retrieval"].oracle
    sem = REGISTRY["semantic_doc_retrieval"].oracle
    return f"""
WITH bm25 AS ({bm25}),
sem AS ({sem}),
fused AS (
    SELECT coalesce(b.doc_id, s.cand_id) AS doc_id,
           b.rk AS rk_lex,
           s.rk AS rk_sem,
           round(coalesce(1.0 / (60 + b.rk), 0.0)
                 + coalesce(1.0 / (60 + s.rk), 0.0), 6) AS rrf
    FROM bm25 b
    FULL OUTER JOIN (SELECT * FROM sem WHERE query_id = 0) s
      ON s.cand_id = b.doc_id
)
SELECT doc_id, rk_lex, rk_sem, rrf, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
    FROM fused
)
WHERE rk <= 10
"""


@register(
    "hybrid_retrieval_rrf",
    survey="similarity,text-analysis (extension: hybrid lexical+semantic fusion)",
    oracle=_hybrid_rrf_oracle(),
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 lexical ranking fused with ANN semantic
    ranking by reciprocal-rank fusion (rrf = Σ 1/(60+rank), Cormack
    et al. 2009) — the standard two-tower retrieval pattern: a doc
    surfaced by BOTH systems outranks one surfaced by either alone.
    Composed by CALLING the registered rankers and full-outer-joining
    their top-k lists; the oracle composes the same two oracles
    verbatim (the curation-gate discipline).

    Determinism: RRF scores are sums of at most two exact-rational
    reciprocals of small integers, rounded 6dp with a doc_id
    tie-break.  Scale: fusion touches only the rankers' top-k rows —
    k+k rows per query regardless of corpus size; the heavy lifting
    stays inside the rankers' own bucketed plans."""
    from .registry import REGISTRY

    b = (
        REGISTRY["bm25_retrieval"].fn(spark, sf_dir)
        .select(F.col("doc_id").alias("b_doc"), F.col("rk").alias("rk_lex"))
    )
    s = (
        REGISTRY["semantic_doc_retrieval"].fn(spark, sf_dir)
        .filter(F.col("query_id") == 0)
        .select(F.col("cand_id").alias("s_doc"), F.col("rk").alias("rk_sem"))
    )
    fused = b.join(s, b.b_doc == s.s_doc, "full_outer").select(
        F.coalesce("b_doc", "s_doc").alias("doc_id"),
        "rk_lex",
        "rk_sem",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rk_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rk_sem")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return topk_ranked(fused, "ORDER BY rrf DESC, doc_id ASC", 10)


@register(
    "leakage_safe_split_audit",
    survey="LLM-pipeline extension: duplicate-group-aware train/eval split audit",
    oracle=r"""
WITH g AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(text), '\s+'))), ' ')) AS grp
    FROM documents
),
a AS (
    SELECT doc_id, grp,
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-seed-1'), 1, 8))::BIGINT
                % 100 < 90) AS doc_train,
           (('0x' || substr(md5(grp || '|split-seed-1'), 1, 8))::BIGINT
                % 100 < 90) AS grp_train
    FROM g
),
per_grp AS (
    SELECT grp,
           count(*) AS n_docs,
           sum(CASE WHEN doc_train THEN 1 ELSE 0 END) AS n_doc_train,
           max(CASE WHEN grp_train THEN 1 ELSE 0 END) AS grp_is_train
    FROM a GROUP BY grp
)
SELECT 'doc_level' AS strategy,
       CAST(sum(n_doc_train) AS BIGINT) AS n_train_docs,
       CAST(sum(n_docs - n_doc_train) AS BIGINT) AS n_eval_docs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n_doc_train > 0 AND n_doc_train < n_docs
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_groups
FROM per_grp
UNION ALL
SELECT 'group_level' AS strategy,
       CAST(sum(CASE WHEN grp_is_train = 1 THEN n_docs ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN grp_is_train = 0 THEN n_docs ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CAST(0 AS BIGINT)
FROM per_grp
""",
)
def leakage_safe_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split leakage audit: a doc-level 90/10 hash split
    scatters members of the same exact-duplicate family across train
    AND eval (the classic contamination bug — the model is evaluated
    on documents it memorized), while a GROUP-level split (hash the
    canonical bag-of-words family key instead of the doc id) keeps
    every family on one side by construction.  Emits both strategies'
    train/eval doc counts and leaky-family counts side by side — the
    audit a training-data pipeline should run before every export
    (on this fixture the doc-level strategy leaks real families;
    group-level is structurally zero).

    Scale shape: one hash-groupBy to the family grain (the same grain
    `dedup_exact` builds), then a two-row aggregate; both split
    assignments are salted-md5 projections, so the audit is
    deterministic across cluster sizes and reruns — and composable:
    swap the family key for a MinHash cluster id
    (`dedup_clusters`) to audit NEAR-duplicate leakage the same way.
    """
    d = load(spark, sf_dir, "documents", fan_out=True)
    # the exact family key dedup_exact uses (dedup.py::_tokens spelled
    # inline — the oracle mirrors string_split_regex(trim(text),'\s+'))
    grp = F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")))
        )
    )

    def is_train(key: str):
        return F.expr(f"{split_bucket_sql(key)} < 90")

    a = d.select(
        grp.alias("grp"),
        is_train("CAST(doc_id AS STRING)").alias("doc_train"),
    ).withColumn("grp_train", is_train("grp"))
    per_grp = a.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("doc_train"), 1).otherwise(0)).alias("n_doc_train"),
        F.max(F.when(F.col("grp_train"), 1).otherwise(0)).alias("grp_is_train"),
    )
    doc_level = per_grp.agg(
        F.sum("n_doc_train").cast("bigint").alias("n_train_docs"),
        F.sum(F.col("n_docs") - F.col("n_doc_train")).cast("bigint").alias("n_eval_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(
            F.when(
                (F.col("n_doc_train") > 0) & (F.col("n_doc_train") < F.col("n_docs")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_leaky_groups"),
    ).select(F.lit("doc_level").alias("strategy"), "*")
    grp_level = per_grp.agg(
        F.sum(F.when(F.col("grp_is_train") == 1, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("n_train_docs"),
        F.sum(F.when(F.col("grp_is_train") == 0, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("n_eval_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.lit(0).cast("bigint").alias("n_leaky_groups"),
    ).select(F.lit("group_level").alias("strategy"), "*")
    return doc_level.unionByName(grp_level)


@register(
    "dedup_span_removal",
    survey="LLM-pipeline extension: duplicated-span REMOVAL (Lee et al. 2022 exact-substring dedup, cleaned-text rebuild)",
    oracle=rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
),
tok AS (
    SELECT doc_id, len(ws) AS n_tokens,
           unnest(range(1, len(ws) + 1)) AS p,
           unnest(ws) AS tok
    FROM toks
),
g AS (
    SELECT doc_id,
           unnest(range(1, greatest(len(ws) - {_SPAN_N - 1}, 0) + 1)) AS pos,
           unnest(list_transform(range(1, greatest(len(ws) - {_SPAN_N - 1}, 0) + 1),
               i -> md5(array_to_string(
                        ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + {_SPAN_N - 1}], ' '))))
               AS gram
    FROM toks
),
dup AS (
    SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= {_SPAN_DF}
),
covpos AS (
    SELECT DISTINCT doc_id, p FROM (
        SELECT g.doc_id, unnest(range(g.pos, g.pos + {_SPAN_N})) AS p
        FROM g JOIN dup ON g.gram = dup.gram
    )
),
kept AS (
    SELECT t.doc_id, t.p, t.tok
    FROM tok t ANTI JOIN covpos c ON t.doc_id = c.doc_id AND t.p = c.p
),
agg AS (
    SELECT doc_id, count(*) AS kept_tokens,
           string_agg(tok, ' ' ORDER BY p) AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.ws) AS INT) AS n_tokens,
       CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(len(t.ws) - coalesce(a.kept_tokens, 0) AS BIGINT) AS removed_tokens,
       floor(coalesce(a.kept_tokens, 0)::DOUBLE / len(t.ws) * 1e6 + 0.5) / 1e6
           AS kept_frac,
       coalesce(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
""",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate REMOVAL (Lee et al. 2022,
    *Deduplicating Training Data Makes Language Models Better*): where
    `cross_doc_dup_spans` only measures duplicate-span coverage, this
    operator produces the CLEANED corpus — every token position
    covered by any 8-token span that occurs in >= 2
    distinct documents is excised, and the surviving tokens are
    stitched back into `clean_text` in original order.

    Relational shape (no suffix array needed): span hashing is the
    same narrow per-doc stage as the coverage query; duplicated spans
    are one hash-keyed aggregate + equi-join back; covered POSITIONS
    are a per-doc distinct; removal is a left-anti join of the token
    table against covered positions on (doc_id, p); the rebuild is a
    per-doc sort-free `array_sort(collect_list(struct(p, tok)))` —
    each doc's token list is assembled inside its own hash partition,
    so per-task memory is bounded by the longest single document (the
    same bound any per-doc tokenizer already needs), never by the
    corpus.  Every stage keys on gram or doc_id equi-joins, so the
    plan survives a 100x corpus unchanged."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select("doc_id", ws.alias("ws")).select(
        "doc_id", "ws", F.size("ws").alias("n_tokens")
    )
    base = tracked_persist(base, "dedup_span_removal.base")
    gp = _span_grams_expr()
    grams = (
        base.select("doc_id", F.explode(gp).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
        .repartition("gram")
    )
    grams = tracked_persist(grams, "dedup_span_removal.grams")
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _SPAN_DF)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(_SPAN_N - 1))
            ).alias("p"),
        )
        .distinct()
    )
    tok = base.select(
        "doc_id",
        F.posexplode("ws").alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).cast("int").alias("p"), "tok")
    kept = tok.join(covered, ["doc_id", "p"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    kt = "CAST(coalesce(kept_tokens, 0) AS BIGINT)"
    return (
        base.select("doc_id", "n_tokens")
        .join(clean, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(n_tokens AS INT) AS n_tokens",
            f"{kt} AS kept_tokens",
            f"CAST(n_tokens AS BIGINT) - {kt} AS removed_tokens",
            round_stable_sql(f"CAST({kt} AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)
            + " AS kept_frac",
            "coalesce(clean_text, '') AS clean_text",
        )
    )


_DSIR_B = 4096  # hashed-ngram feature buckets
_DSIR_TARGET_LANG = "en"  # target-domain proxy: English documents


@register(
    "dsir_importance_weights",
    survey="LLM-pipeline extension: DSIR hashed-ngram importance weights (Xie et al. 2023)",
    oracle=rf"""
WITH toks AS (
    SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
),
uni AS (SELECT doc_id, lang, unnest(ws) AS g FROM toks),
bi AS (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(ws)),
               i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + 1], ' ')))
               AS g
    FROM toks WHERE len(ws) >= 2
),
feats AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(g), 1, 8))::BIGINT % {_DSIR_B} AS b
    FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
doc_bucket AS (
    SELECT doc_id, lang, b, count(*) AS n FROM feats GROUP BY doc_id, lang, b
),
bucket AS (
    SELECT b, sum(n) AS c_r,
           sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN n ELSE 0 END) AS c_t
    FROM doc_bucket GROUP BY b
),
tot AS (SELECT sum(c_r) AS t_r, sum(c_t) AS t_t FROM bucket),
lr AS (
    SELECT b,
           CAST(floor((ln((c_t + 0.5) / (t_t + 0.5 * {_DSIR_B}))
                     - ln((c_r + 0.5) / (t_r + 0.5 * {_DSIR_B}))) * 1e6 + 0.5)
                AS BIGINT) AS unats
    FROM bucket, tot
),
w AS (
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_feats,
           CAST(sum(n * unats) AS BIGINT) AS log_weight_unats
    FROM doc_bucket JOIN lr USING (b) GROUP BY doc_id
)
SELECT w.doc_id, d.source, w.n_feats, w.log_weight_unats,
       CAST(CASE WHEN w.log_weight_unats > 0 THEN 1 ELSE 0 END AS INT) AS selected
FROM w JOIN documents d ON w.doc_id = d.doc_id
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, *Data Selection for
    Language Models via Importance Resampling*): hash every unigram
    and bigram into 4096 buckets, estimate the target-domain
    (proxy: `lang = 'en'`) and raw-corpus bucket
    distributions with +0.5 Laplace smoothing, and score each document
    by its summed per-feature log-likelihood ratio.  `selected` marks
    documents that look more target-like than raw (weight > 0) — the
    resampling gate.

    Parity design: the per-bucket log-ratio is quantized to int64
    MICRO-NATS (`floor(lr * 1e6 + 0.5)`) before any per-doc
    summation, so document weights are exact integer sums — no
    float-summation-order drift between engines (the playbook's
    1e6-quantized-logs pattern).

    Scale shape: feature hashing is narrow per-doc work; bucket stats
    cascade through a (doc_id, b) partial aggregate (map-side
    combine) into a 4096-row table; the log-ratio table is tiny
    by construction and BROADCAST back onto the doc-bucket grain, so
    scoring 100 TB is one narrow pass + one broadcast hash join —
    the corpus is never shuffled on anything wider than (doc_id, b)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select("doc_id", "lang", ws.alias("ws"))
    uni = base.select("doc_id", "lang", F.explode("ws").alias("g"))
    bi = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.array_join(F.slice(F.col("ws"), i, 2), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    feats = uni.unionByName(bi).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint")
            % F.lit(_DSIR_B)
        ).alias("b"),
    )
    # (doc_id, b) grain feeds BOTH the bucket stats and the final
    # scoring join — persist it so tokenize+hash runs once.
    doc_bucket = tracked_persist(
        feats.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("n")),
        "dsir_importance_weights.doc_bucket",
    )
    bucket = doc_bucket.groupBy("b").agg(
        F.sum("n").alias("c_r"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("n")).otherwise(0)
        ).alias("c_t"),
    )
    tot = bucket.agg(F.sum("c_r").alias("t_r"), F.sum("c_t").alias("t_t"))
    half_b = 0.5 * _DSIR_B
    lr = (
        bucket.crossJoin(F.broadcast(tot))  # 1-row corpus-totals attach
        .select(
            "b",
            F.floor(
                (
                    F.log((F.col("c_t") + 0.5) / (F.col("t_t") + half_b))
                    - F.log((F.col("c_r") + 0.5) / (F.col("t_r") + half_b))
                )
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("unats"),
        )
    )
    w = (
        doc_bucket.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("n") * F.col("unats")).cast("bigint").alias(
                "log_weight_unats"
            ),
        )
    )
    return w.join(d.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        "n_feats",
        "log_weight_unats",
        (F.col("log_weight_unats") > 0).cast("int").alias("selected"),
    )


# --- fastText-style quality filter: fixed-iteration logistic GD -------------

_LGD_B = 512  # hashed feature buckets (the model: 512 weights)
_LGD_ITERS = 5
_LGD_LR = 0.5


def _logistic_gd_oracle() -> str:
    """DuckDB oracle for the logistic quality filter — the fixed
    5-step full-batch gradient descent UNROLLED as chained aggregate
    CTEs (the recursive term would need GROUP BY, which standard SQL
    forbids; same pattern as the Lloyd k-means oracle).  Both engines
    iterate weight states differing only in aggregate summation order
    (~1e-15/step, Lipschitz-bounded through the sigmoid), so the
    6dp-rounded scores are hash-stable."""
    b, lr = _LGD_B, _LGD_LR
    steps = []
    prev = "w0"
    for t in range(1, _LGD_ITERS + 1):
        steps.append(f"""d{t} AS (
    SELECT x.doc_id, sum(x.x * w.w) AS dot
    FROM x JOIN {prev} w USING (b) GROUP BY x.doc_id
),
r{t} AS (
    SELECT d.doc_id, (1.0 / (1.0 + exp(-d.dot)) - y.y) AS resid
    FROM d{t} d JOIN y USING (doc_id)
),
g{t} AS (
    SELECT x.b, sum(r.resid * x.x) AS g
    FROM x JOIN r{t} r USING (doc_id) GROUP BY x.b
),
w{t} AS (
    SELECT w.b, w.w - {lr} * coalesce(g.g, 0) / nn.nd AS w
    FROM {prev} w LEFT JOIN g{t} g USING (b), nn
)""")
        prev = f"w{t}"
    chain = ",\n".join(steps)
    return rf"""
WITH toks AS (
    SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
),
uni AS (SELECT doc_id, unnest(ws) AS g FROM toks),
bi AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws)),
               i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + 1], ' ')))
               AS g
    FROM toks WHERE len(ws) >= 2
),
feats AS (
    SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % {b} AS b
    FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
db AS (SELECT doc_id, b, count(*) AS n FROM feats GROUP BY doc_id, b),
dn AS (SELECT doc_id, sum(n) AS nd FROM db GROUP BY doc_id),
x AS (
    SELECT d.doc_id, d.b, d.n::DOUBLE / dn.nd AS x
    FROM db d JOIN dn ON d.doc_id = dn.doc_id
),
y AS (
    SELECT doc_id, CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1.0 ELSE 0.0 END AS y
    FROM documents
),
nn AS (SELECT count(*)::DOUBLE AS nd FROM documents),
w0 AS (SELECT DISTINCT b, 0.0 AS w FROM x),
{chain},
s AS (
    SELECT x.doc_id, sum(x.x * w.w) AS dot
    FROM x JOIN {prev} w USING (b) GROUP BY x.doc_id
)
SELECT s.doc_id,
       CAST(y.y AS INT) AS y,
       floor((1.0 / (1.0 + exp(-s.dot))) * 1e6 + 0.5) / 1e6 AS score,
       CAST(CASE WHEN 1.0 / (1.0 + exp(-s.dot)) > 0.5 THEN 1 ELSE 0 END AS INT)
           AS predicted
FROM s JOIN y ON s.doc_id = y.doc_id
"""


@register(
    "quality_filter_logistic_gd",
    survey="LLM-pipeline extension: fastText-style learned quality filter (fixed-iteration logistic GD, unrolled oracle)",
    oracle=_logistic_gd_oracle(),
)
def quality_filter_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter in the fastText-classifier mold (the
    quality-gate stage of CCNet / RefinedWeb-style pipelines): a
    512-bucket hashed unigram+bigram bag-of-words logistic model,
    trained with exactly 5 full-batch gradient-descent steps (lr 0.5,
    zero init, labels = `lang = 'en'` as the quality proxy), then
    applied back to every document.  Output per doc: label, 6dp
    sigmoid score, and the >0.5 decision.

    Iterative-oracle pattern: the DuckDB twin replays the IDENTICAL
    finite iteration as unrolled aggregate CTEs (see
    `_logistic_gd_oracle`), so training itself — not just scoring —
    is value-hash-checked.

    Scale shape: the MODEL (512 weights) is what crosses the network,
    never the corpus — each step broadcasts the weight table into a
    bucket equi-join for the forward pass (one (doc_id)-keyed
    aggregate), joins residuals back on doc_id, and reduces the
    gradient on the 512-key bucket grain (map-side combine does
    almost all of it); `localCheckpoint` truncates lineage per step
    exactly like the Lloyd/PageRank loops.  At 100 TB an epoch is two
    narrow-keyed shuffles of the persisted doc-bucket silver — the
    classic distributed-full-batch-GD layout."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select("doc_id", ws.alias("ws"))
    uni = base.select("doc_id", F.explode("ws").alias("g"))
    bi = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.array_join(F.slice(F.col("ws"), i, 2), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    feats = uni.unionByName(bi).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint")
            % F.lit(_LGD_B)
        ).alias("b"),
    )
    db = feats.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("n"))
    dn = db.groupBy("doc_id").agg(F.sum("n").alias("nd"))
    x = tracked_persist(
        db.join(dn, "doc_id").select(
            "doc_id", "b", (F.col("n").cast("double") / F.col("nd")).alias("x")
        ),
        "quality_filter_logistic_gd.x",
    )
    y = tracked_persist(
        d.select(
            "doc_id",
            F.when(F.col("lang") == _DSIR_TARGET_LANG, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
        ),
        "quality_filter_logistic_gd.y",
    )
    nn = d.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    w = x.select("b").distinct().select("b", F.lit(0.0).alias("w"))

    def forward(wt: DataFrame) -> DataFrame:
        return (
            x.join(F.broadcast(wt), "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("dot"))
        )

    for _ in range(_LGD_ITERS):
        resid = forward(w).join(y, "doc_id").select(
            "doc_id",
            (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("dot"))) - F.col("y")
            ).alias("resid"),
        )
        grad = (
            x.join(resid, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("resid") * F.col("x")).alias("g"))
        )
        w = (
            w.join(grad, "b", "left")
            .crossJoin(F.broadcast(nn))  # 1-row doc-count attach
            .select(
                "b",
                (
                    F.col("w")
                    - F.lit(_LGD_LR)
                    * F.coalesce(F.col("g"), F.lit(0.0))
                    / F.col("nd")
                ).alias("w"),
            )
            .localCheckpoint()
        )

    sig = "1.0D / (1.0D + exp(-dot))"
    return (
        forward(w)
        .join(y, "doc_id")
        .selectExpr(
            "doc_id",
            "CAST(y AS INT) AS y",
            f"{round_stable_sql(sig, 6)} AS score",
            f"CAST({sig} > 0.5D AS INT) AS predicted",
        )
    )


def _det128(a: str, b: str, c: str, d: str) -> str:
    """a·b − c·d over 128-bit decimal carriers, as a double."""
    a, b, c, d = (f"CAST({x} AS DECIMAL(38,0))" for x in (a, b, c, d))
    return f"CAST({a} * {b} - {c} * {d} AS DOUBLE)"


# The exact-integer log-log OLS slope of heaps_vocab_growth and
# zipf_rank_slope over their (m, sx, sy, sxy, sxx) moment sums, NULL on
# a zero denominator.
_LOGLOG_DEN = _det128("m", "sxx", "sx", "sx")
_LOGLOG_SLOPE_SQL = round_stable_sql(
    f"CASE WHEN {_LOGLOG_DEN} != 0.0D"
    f" THEN {_det128('m', 'sxy', 'sx', 'sy')} / {_LOGLOG_DEN} END",
    6,
)


@register(
    "heaps_vocab_growth",
    survey="LLM-pipeline extension: per-source Heaps-law vocabulary-growth exponent (exact-integer log-log OLS)",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
),
docg0 AS (SELECT doc_id, source, len(ws) AS n_toks FROM toks),
tok AS (SELECT DISTINCT source, doc_id, unnest(ws) AS tok FROM toks),
first AS (SELECT source, tok, min(doc_id) AS fdoc FROM tok GROUP BY source, tok),
newc AS (
    SELECT source, fdoc AS doc_id, count(*) AS n_new
    FROM first GROUP BY source, fdoc
),
docg AS (
    SELECT d.source, d.doc_id, d.n_toks, coalesce(n.n_new, 0) AS n_new
    FROM docg0 d LEFT JOIN newc n ON d.source = n.source AND d.doc_id = n.doc_id
),
cum AS (
    SELECT source, n_toks, n_new,
           sum(n_toks) OVER w AS ct,
           sum(n_new) OVER w AS cv
    FROM docg
    WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
),
q AS (
    SELECT source, n_toks, n_new,
           CAST(floor(ln(ct::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qx,
           CAST(floor(ln(cv::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qy
    FROM cum
),
agg AS (
    SELECT source, count(*) AS m,
           CAST(sum(qx) AS BIGINT) AS sx,
           CAST(sum(qy) AS BIGINT) AS sy,
           sum(qx::HUGEINT * qy) AS sxy,
           sum(qx::HUGEINT * qx) AS sxx,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_new) AS BIGINT) AS vocab_size
    FROM q GROUP BY source
)
SELECT source,
       CAST(m AS BIGINT) AS n_docs,
       total_tokens,
       vocab_size,
       floor(CAST(m::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
             / nullif(CAST(m::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE), 0)
             * 1e6 + 0.5) / 1e6 AS heaps_beta
FROM agg
""",
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth per source: V(n) = K·n^beta, fit
    as a log-log OLS slope over the per-doc cumulative (tokens seen,
    distinct types seen) curve (docs ordered by doc_id within each
    source).  A falling beta across sources is the classic corpus
    health signal — templated/duplicated sources grow vocabulary
    sublinearly vs organic text.

    Parity design: first-occurrence attribution (`min(doc_id)` per
    (source, token)) and both cumulative curves are exact integers;
    each log-log point is quantized to int64 MICRO-NATS before the
    regression, so the OLS moment sums are exact int64 (per-point
    products ~2e14, sums ~5e17 — inside the ANSI budget), the final
    m·Sxy − Sx·Sy combination runs per SOURCE row in a 128-bit
    carrier (Spark DECIMAL(38,0) / DuckDB HUGEINT — m²-scaled terms
    reach ~1e21), and beta is ONE final IEEE division of identically-
    converted doubles.

    Scale shape: the token grain shuffles once on (source, token) for
    first-occurrence, once on (source, doc) for new-type counts; the
    cumulative window partitions by source (at 100 TB: thousands of
    sources = thousands of independent curves; a single source's
    curve has one row PER DOC, not per token, so the window input is
    metadata-sized); the regression itself is a 5-integer fold with
    map-side combine."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select("doc_id", "source", ws.alias("ws"))
    docg0 = base.select("doc_id", "source", F.size("ws").alias("n_toks"))
    tok = base.select(
        "source", "doc_id", F.explode("ws").alias("tok")
    ).distinct()
    first = tok.groupBy("source", "tok").agg(F.min("doc_id").alias("fdoc"))
    newc = first.groupBy("source", F.col("fdoc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    docg = docg0.join(newc, ["source", "doc_id"], "left").select(
        "source",
        "doc_id",
        "n_toks",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = docg.select(
        "source",
        "n_toks",
        "n_new",
        F.sum("n_toks").over(w).alias("ct"),
        F.sum("n_new").over(w).alias("cv"),
    )
    q = cum.select(
        "source",
        "n_toks",
        "n_new",
        F.floor(F.log(F.col("ct").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("qx"),
        F.floor(F.log(F.col("cv").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("qy"),
    )
    agg = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        # 128-bit carrier: at extreme per-source doc counts the squared-
        # moment sums pass int64 while DuckDB auto-promotes to int128 —
        # the lift_ppm overflow-divergence class, closed here up front
        F.sum(
            F.col("qx").cast("decimal(38,0)") * F.col("qy").cast("decimal(38,0)")
        ).alias("sxy"),
        F.sum(
            F.col("qx").cast("decimal(38,0)") * F.col("qx").cast("decimal(38,0)")
        ).alias("sxx"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.sum("n_new").cast("bigint").alias("vocab_size"),
    )
    return agg.select(
        "source",
        F.col("m").cast("bigint").alias("n_docs"),
        "total_tokens",
        "vocab_size",
        F.expr(_LOGLOG_SLOPE_SQL).alias("heaps_beta"),
    )


_MIX_ALPHA = 0.7  # temperature exponent (LLaMA-style source rebalancing)
_MIX_BUDGET = 1_000_000  # tokens drawn per epoch


@register(
    "temperature_mixing_weights",
    survey="LLM-pipeline extension: temperature-scaled source mixing weights (n^alpha rebalancing)",
    oracle=rf"""
WITH toks AS (
    SELECT source, len(string_split_regex(lower(trim(text)), '\s+')) AS n_toks
    FROM documents
),
src AS (
    SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM toks GROUP BY source
),
q AS (
    SELECT source, n_docs, n_tokens,
           CAST(floor(pow(n_tokens, {_MIX_ALPHA}) * 1e6 + 0.5) AS BIGINT) AS qw
    FROM src
),
tot AS (SELECT sum(qw) AS tq FROM q)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       n_tokens,
       floor(CAST(qw AS DOUBLE) / CAST(tq AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS mix_weight,
       CAST((qw::HUGEINT * {_MIX_BUDGET}) // tq AS BIGINT) AS tokens_per_epoch
FROM q, tot
""",
)
def temperature_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture weights (the n^alpha source
    rebalancing used by multilingual/LLaMA-style training recipes,
    alpha = 0.7): big sources are down-weighted, small sources
    up-weighted, relative to proportional sampling.  Output per
    source: exact token counts, the normalized mixing weight, and the
    integer token draw out of a 1M-token epoch budget.

    Parity design: the only transcendental is ONE pow(n, 0.7) per
    source, quantized to int64 immediately; normalization and the
    epoch allocation are exact integer sums/divisions (128-bit
    carrier for qw x budget), so no float-summation-order drift
    exists anywhere.

    Scale shape: one map-side-combined aggregate over the corpus to
    source grain (thousands of rows at 100 TB), then scalar math on
    that tiny frame — the weights table is a broadcast input to the
    actual sampling pass (`weighted_sample_per_source` /
    `mixture_resample`)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    n_toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    src = d.select("source", n_toks.alias("n_toks")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    q = src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.pow(F.col("n_tokens"), F.lit(_MIX_ALPHA)) * 1e6 + 0.5)
        .cast("bigint")
        .alias("qw"),
    )
    # decimal normalizer: DuckDB promotes sum(qw) to int128; match it
    tot = q.agg(F.sum(F.col("qw").cast("decimal(38,0)")).alias("tq"))
    return q.crossJoin(F.broadcast(tot)).select(  # 1-row totals attach
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_tokens",
        F.expr(round_stable_sql("CAST(qw AS DOUBLE) / CAST(tq AS DOUBLE)", 6)).alias(
            "mix_weight"
        ),
        F.expr(
            f"CAST((CAST(qw AS DECIMAL(38,0)) * {_MIX_BUDGET}) div tq AS BIGINT)"
        ).alias("tokens_per_epoch"),
    )


@register(
    "zipf_rank_slope",
    survey="LLM-pipeline extension: per-source Zipf rank-frequency slope (exact-integer log-log OLS)",
    oracle=r"""
WITH toks AS (
    SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
freq AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
ranked AS (
    SELECT source, c,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rk
    FROM freq
),
q AS (
    SELECT source,
           CAST(floor(ln(rk::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qx,
           CAST(floor(ln(c::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qy
    FROM ranked
),
agg AS (
    SELECT source, count(*) AS m,
           CAST(sum(qx) AS BIGINT) AS sx,
           CAST(sum(qy) AS BIGINT) AS sy,
           sum(qx::HUGEINT * qy) AS sxy,
           sum(qx::HUGEINT * qx) AS sxx
    FROM q GROUP BY source
)
SELECT source,
       CAST(m AS BIGINT) AS vocab_size,
       floor(CAST(m::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
             / nullif(CAST(m::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE), 0)
             * 1e6 + 0.5) / 1e6 AS zipf_slope
FROM agg
""",
)
def zipf_rank_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope per source: log-log OLS of token
    frequency against frequency rank (ties broken by token for a
    total order).  Natural text sits near -1; templated/synthetic
    sources flatten toward 0 — the companion diagnostic to
    `heaps_vocab_growth`, reading the same corpus pathology from the
    frequency side.

    Same exact-integer OLS parity design as the Heaps fit: per-point
    logs quantized to int64 micro-nats, moment sums exact, the m-
    scaled final combination in a 128-bit carrier, one IEEE division.

    Scale shape: one (source, token) aggregate, a rank window
    partitioned by source over VOCABULARY-sized input (not corpus-
    sized), and a 5-integer fold."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    tok = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    freq = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    ranked = freq.select("source", "c", F.row_number().over(w).alias("rk"))
    q = ranked.select(
        "source",
        F.floor(F.log(F.col("rk").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("qx"),
        F.floor(F.log(F.col("c").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("qy"),
    )
    agg = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        # same 128-bit squared-moment carrier as heaps_vocab_growth
        F.sum(
            F.col("qx").cast("decimal(38,0)") * F.col("qy").cast("decimal(38,0)")
        ).alias("sxy"),
        F.sum(
            F.col("qx").cast("decimal(38,0)") * F.col("qx").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    return agg.select(
        "source",
        F.col("m").cast("bigint").alias("vocab_size"),
        F.expr(_LOGLOG_SLOPE_SQL).alias("zipf_slope"),
    )


# --- near-dup survivorship + cluster accounting ------------------------------


def _near_dup_keep_best_oracle() -> str:
    """Compose from the COMPONENT oracles verbatim (the
    curation_decision_gate pattern): the survivorship decision can
    never drift from the cluster resolution or the quality score it
    decides with.  dedup_clusters' oracle is WITH RECURSIVE, which
    DuckDB accepts inside a parenthesized subquery."""
    from .registry import REGISTRY

    clusters = REGISTRY["dedup_clusters"].oracle
    tq = REGISTRY["text_quality_scores"].oracle
    return f"""
WITH clusters AS (SELECT * FROM ({clusters}) c0),
q AS (SELECT * FROM ({tq}) q0),
j AS (
    SELECT q.doc_id,
           coalesce(c.comp_id, q.doc_id) AS comp_id,
           CAST(coalesce(c.n_members, 1) AS BIGINT) AS n_members,
           q.quality
    FROM q LEFT JOIN clusters c ON c.doc_id = q.doc_id
)
SELECT doc_id, comp_id, n_members, quality,
       row_number() OVER (
           PARTITION BY comp_id ORDER BY quality DESC, doc_id
       ) = 1 AS keep
FROM j
"""


@register(
    "near_dup_keep_best",
    survey="S18,U3,W2 (extension: quality-aware near-dup survivorship)",
    oracle=_near_dup_keep_best_oracle(),
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivorship over NEAR-dup clusters — the keep
    policy a curation pipeline actually wants: `exact_dedup_keep_best`
    keeps the longest member of byte-identical groups, but near-dup
    clusters (jaccard >= 0.95 via `dedup_clusters`) contain genuinely
    different renditions, and the right survivor is the highest-
    QUALITY one (`text_quality_scores` blend), not the longest.  Docs
    in no cluster are their own singleton component and always kept.
    (Reference parity anchor: the dedup-before-insert discipline of
    signal_aggregator.py's upsert path, extended cluster-wise.)

    Deterministic across engines: quality is the 6dp-rounded blend
    both engines already hash-match on (`text_quality_scores` is
    driver-green), and ranking tie-breaks on doc_id, so the window is
    stable under any partitioning.

    Scale shape: cluster resolution is the iterative min-label
    propagation (diameter-bounded rounds); on top of it this adds ONE
    doc_id-keyed left join and ONE window over comp_id — two linear
    hash shuffles, no new iteration, no driver state.  At 100 TB the
    quality scan is embarrassingly parallel and the comp_id window
    partitions are near-dup-cluster-sized (tiny)."""
    from .dedup import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "comp_id", "n_members")
    tq = text_quality_scores(spark, sf_dir).select("doc_id", "quality")
    j = tq.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("comp_id", "doc_id").alias("comp_id"),
        F.coalesce("n_members", F.lit(1)).cast("bigint").alias("n_members"),
        "quality",
    )
    w = Window.partitionBy("comp_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return j.select(
        "doc_id",
        "comp_id",
        "n_members",
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def _dup_cluster_histogram_oracle() -> str:
    from .registry import REGISTRY

    clusters = REGISTRY["dedup_clusters"].oracle
    # clusters is referenced TWICE below (sizes + the singleton
    # anti-join) — without MATERIALIZED, DuckDB may re-expand the
    # recursive cluster resolution once per reference (the documented
    # _bpe_oracle footgun; r12 audit, r11 verdict #7)
    return f"""
WITH clusters AS MATERIALIZED (SELECT * FROM ({clusters}) c0),
sizes AS (SELECT DISTINCT comp_id, n_members FROM clusters),
clustered AS (
    SELECT CAST(n_members AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_members) AS BIGINT) AS n_docs
    FROM sizes GROUP BY n_members
),
singles AS (
    SELECT CAST(1 AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM clusters)
)
SELECT * FROM clustered UNION ALL SELECT * FROM singles
"""


@register(
    "dup_cluster_size_histogram",
    survey="S18,A17 (extension: duplication-profile report)",
    oracle=_dup_cluster_histogram_oracle(),
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph — the
    duplication profile every corpus card reports (how much of the
    corpus sits in 2-member clusters vs pathological 1000-member
    ones), singletons included as size-1 "clusters" so the n_docs
    column sums to the corpus size and the table audits itself.

    Scale shape: cluster sizes are already carried per-member by
    `dedup_clusters`; the histogram is a distinct over (comp_id,
    n_members) — cluster-count grain, tiny — plus an anti-join for
    the singleton count.  Both are single linear shuffles; output is
    bounded by the number of DISTINCT cluster sizes (~dozens at any
    corpus scale)."""
    from .dedup import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "comp_id", "n_members")
    sizes = clusters.select("comp_id", "n_members").distinct()
    clustered = sizes.groupBy(
        F.col("n_members").cast("bigint").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_members").cast("bigint").alias("n_docs"),
    )
    d = load(spark, sf_dir, "documents", fan_out=True)
    singles = (
        d.select("doc_id")
        .join(clusters.select("doc_id"), "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            "n_clusters",
            F.col("n_clusters").alias("n_docs"),
        )
    )
    return clustered.unionByName(singles)


def _near_dup_corpus_rebuild_oracle() -> str:
    """Composed verbatim from the survivorship oracle (which itself
    composes the recursive-CTE cluster resolution + quality score) —
    the rebuilt corpus can never drift from the keep verdict it
    consumes."""
    return rf"""
WITH kb AS (SELECT * FROM ({_near_dup_keep_best_oracle()}) k0 WHERE keep),
-- j is referenced TWICE (s + the final SELECT): MATERIALIZED or the
-- whole survivorship subtree (recursive cluster resolution included)
-- evaluates once per reference (r12 audit, r11 verdict #7)
j AS MATERIALIZED (
    SELECT kb.doc_id, kb.comp_id, d.source, kb.quality,
           CAST(len(string_split_regex(lower(trim(d.text)), '\s+')) AS INT)
               AS n_tokens
    FROM kb JOIN documents d ON d.doc_id = kb.doc_id
),
s AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS source_kept_docs,
           CAST(sum(n_tokens) AS BIGINT) AS source_kept_tokens
    FROM j GROUP BY source
)
SELECT j.doc_id, j.comp_id, j.source, j.quality, j.n_tokens,
       s.source_kept_docs, s.source_kept_tokens
FROM j JOIN s ON s.source = j.source
"""


@register(
    "near_dup_corpus_rebuild",
    survey="S18,U3 (extension: near-dup survivorship CONSUMED — kept-corpus rebuild)",
    oracle=_near_dup_corpus_rebuild_oracle(),
)
def near_dup_corpus_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept corpus — `near_dup_keep_best`'s verdict CONSUMED, the
    same consume-your-own-signal discipline as the exact-span path
    (`cross_doc_dup_spans` measures → `dedup_span_removal` rebuilds):
    one surviving document per near-dup cluster (plus every
    singleton), carrying the per-source kept-doc and kept-TOKEN totals
    the mixing tier reads (`temperature_mixing_weights`' exact token
    counting), so post-dedup mixing weights can be computed straight
    off this table instead of the raw corpus.

    Cross-query law (tests/test_cross_query_invariants.py): kept rows
    == Σ n_clusters of `dup_cluster_size_histogram` — one survivor per
    cluster, singletons included — pinned next to the existing
    survivorship laws.

    Scale shape: the survivorship subtree adds one doc_id equi-join
    against documents (hash-partitioned, linear); the per-source
    totals are a sources-grain aggregate broadcast back — no window
    over the corpus, no new iteration.  At 100 TB this is the query
    that WRITES the post-dedup silver."""
    kept = near_dup_keep_best(spark, sf_dir).filter(F.col("keep")).select(
        "doc_id", "comp_id", "quality"
    )
    d = load(spark, sf_dir, "documents", fan_out=True)
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    docs = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    j = kept.join(docs, "doc_id").select(
        "doc_id", "comp_id", "source", "quality", "n_tokens"
    )
    per_src = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("source_kept_docs"),
        F.sum("n_tokens").cast("bigint").alias("source_kept_tokens"),
    )
    return j.join(F.broadcast(per_src), "source").select(
        "doc_id",
        "comp_id",
        "source",
        "quality",
        "n_tokens",
        "source_kept_docs",
        "source_kept_tokens",
    )


def _post_dedup_mixing_oracle() -> str:
    """Composed verbatim from the corpus-rebuild oracle (which itself
    composes survivorship → clusters) + `temperature_mixing_weights`'
    exact quantized n^alpha arithmetic — the `curation_decision_gate`
    discipline: a composition query's oracle is built FROM its
    components' oracles, so it can never drift from what it claims to
    consume."""
    # src/q carry the ENTIRE rebuild subtree and q is referenced
    # twice (tot + the final SELECT) — MATERIALIZED halves the deepest
    # composed oracle in the repo (measured: the r11 sf0.1 parity run
    # took ~35 min on this query; see tools/exact_parity.py SF notes)
    return rf"""
WITH src AS MATERIALIZED (
    SELECT DISTINCT source,
           source_kept_docs AS kept_docs,
           source_kept_tokens AS kept_tokens
    FROM ({_near_dup_corpus_rebuild_oracle()}) rebuilt
),
q AS MATERIALIZED (
    SELECT source, kept_docs, kept_tokens,
           CAST(floor(pow(kept_tokens, {_MIX_ALPHA}) * 1e6 + 0.5) AS BIGINT) AS qw
    FROM src
),
tot AS (SELECT sum(qw) AS tq FROM q)
SELECT source,
       CAST(kept_docs AS BIGINT) AS kept_docs,
       kept_tokens,
       floor(CAST(qw AS DOUBLE) / CAST(tq AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS mix_weight,
       CAST((qw::HUGEINT * {_MIX_BUDGET}) // tq AS BIGINT) AS tokens_per_epoch
FROM q, tot
"""


@register(
    "post_dedup_mixing_weights",
    survey="LLM-pipeline extension: temperature mixing over the POST-DEDUP kept corpus",
    oracle=_post_dedup_mixing_oracle(),
)
def post_dedup_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixing weights computed over the KEPT corpus
    — `near_dup_corpus_rebuild`'s survivorship verdict consumed by the
    mixing tier, closing the composition the rebuild's docstring
    promised in prose (r10 verdict #6): `temperature_mixing_weights`
    rebalances the RAW corpus; this twin applies the same quantized
    n^0.7 rule to the per-source kept-token totals the rebuild emits,
    so the epoch budget is allocated over data that will actually be
    trained on.  Dedup shifts the mixture: a source that loses many
    near-dups loses weight relative to its raw share — exactly the
    LLaMA-style recipe's intent (dup-heavy sources are over-counted by
    raw token counts).

    Cross-query law (tests/test_cross_query_invariants.py): this
    query's `kept_tokens` column equals
    `near_dup_corpus_rebuild.source_kept_tokens` per source
    bit-exactly, kept_tokens <= the raw twin's n_tokens, and the
    quantized weights sum to 1 within the same 1e-6 grain as the raw
    twin.

    Scale shape: the rebuild subtree is the post-dedup silver (at
    100 TB: READ it, don't recompute — here composed in-plan so the
    oracle can verify end-to-end); the mixing math is scalar work on a
    sources-grain frame (thousands of rows), broadcast back to the
    sampling pass like the raw twin."""
    reb = near_dup_corpus_rebuild(spark, sf_dir)
    src = (
        reb.select(
            "source",
            F.col("source_kept_docs").alias("kept_docs"),
            F.col("source_kept_tokens").alias("kept_tokens"),
        )
        .distinct()
    )
    q = src.select(
        "source",
        "kept_docs",
        "kept_tokens",
        F.floor(F.pow(F.col("kept_tokens"), F.lit(_MIX_ALPHA)) * 1e6 + 0.5)
        .cast("bigint")
        .alias("qw"),
    )
    tot = q.agg(F.sum(F.col("qw").cast("decimal(38,0)")).alias("tq"))
    return q.crossJoin(F.broadcast(tot)).select(  # 1-row totals attach
        "source",
        F.col("kept_docs").cast("bigint").alias("kept_docs"),
        "kept_tokens",
        F.expr(round_stable_sql("CAST(qw AS DOUBLE) / CAST(tq AS DOUBLE)", 6)).alias(
            "mix_weight"
        ),
        F.expr(
            f"CAST((CAST(qw AS DECIMAL(38,0)) * {_MIX_BUDGET}) div tq AS BIGINT)"
        ).alias("tokens_per_epoch"),
    )


def _bpe_encoded_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_chars, n_tok): the learned-BPE encoding of the corpus'
    CANONICAL distinct-word vocabulary — the 20 trained rules applied
    in rank order with the exact training fold (greedy non-overlapping
    left-to-right).  THE shared consumer surface of the merge table:
    `bpe_encode_corpus` (corpus token stats) and `sequence_packing_bpe`
    (epoch packing) both join this one vocabulary, so their token
    units can never drift.  Session-memoized + persisted per
    (session, sf) — r12 advisor: each consumer used to re-run the
    20-round training collect and rebuild the 21-localCheckpoint fold
    chain per invocation (the units matched by determinism alone); the
    memo makes the sharing literal AND saves a training pass whenever
    both consumers run in one session.  At 100 TB this is a trained
    tokenizer artifact: vocabulary-grain (distinct words, not corpus
    rows), encoded once at ingest.

    The 20-row merge table is collected once to parameterize the fold
    literals (the training loop's own 1-row-per-round collect class —
    k-means-centroid scalars, not data)."""
    return session_persist(
        spark,
        f"bpe.vocab.{dataset_tag(sf_dir)}",
        lambda: _bpe_encoded_vocab_build(spark, sf_dir),
    )


def _bpe_encoded_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uncached vocabulary build behind `_bpe_encoded_vocab`."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.length("word") > 0)
        .distinct()
    )
    rules = [
        (r.left, r.right, r.merged)
        for r in sorted(
            bpe_merge_induction(spark, sf_dir).collect(), key=lambda r: r.step
        )
    ]
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substr(F.col("word"), i, F.lit(1)),
    )
    syms = words.select("word", chars.alias("symbols")).localCheckpoint()
    for left, right, merged in rules:
        fold = F.aggregate(
            F.col("symbols"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        syms = syms.select("word", fold.alias("symbols")).localCheckpoint()
    return syms.select(
        "word",
        F.length("word").cast("bigint").alias("n_chars"),
        F.size("symbols").cast("bigint").alias("n_tok"),
    )


def _bpe_encode_oracle(merges: int = _BPE_MERGES) -> str:
    """Composed verbatim from the training chain (`_bpe_cte_chain`,
    final_state=True): the encoder's oracle replays the SAME 20
    unrolled merge rounds that learned the rules, then reads the
    final word→symbols state — so the encode can never drift from
    the induction it consumes."""
    sep = "chr(10)"
    chain = ",\n".join(_bpe_cte_chain(merges, final_state=True))
    return rf"""
WITH {chain},
wsrc AS MATERIALIZED (
    SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents
    )
    WHERE len(word) > 0 GROUP BY source, word
),
enc AS MATERIALIZED (
    SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
           CAST(len(string_split(sym, {sep})) AS BIGINT) AS n_tok
    FROM sy{merges}
)
SELECT w.source,
       CAST(sum(w.cnt) AS BIGINT) AS n_words,
       CAST(sum(w.cnt * e.n_chars) AS BIGINT) AS n_char_symbols,
       CAST(sum(w.cnt * e.n_tok) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(w.cnt * (e.n_chars - e.n_tok)) AS BIGINT) AS merges_applied,
       CASE WHEN sum(w.cnt * e.n_chars) > 0
            THEN floor(CAST(sum(w.cnt * e.n_tok) AS DOUBLE)
                       / CAST(sum(w.cnt * e.n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS bpe_ratio
FROM wsrc w JOIN enc e ON e.word = w.word
GROUP BY w.source
"""


@register(
    "bpe_encode_corpus",
    survey="text-analysis (extension: learned BPE merges CONSUMED — corpus encoding)",
    oracle=_bpe_encode_oracle(),
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table CONSUMED — `bpe_merge_induction` was the
    last registered artifact without a consumer (the repo discipline:
    survivorship → rebuild → mixing, drift flag → retrain, …, merge
    table → THIS).  Every distinct word is encoded by the 20 learned
    rules applied in rank order with the exact training fold (greedy
    non-overlapping left-to-right — encoding replays training, so the
    encoded vocabulary IS the training loop's final symbol state,
    pinned against the pure-Python reference in tests), then per-source
    token statistics: words, char symbols, BPE tokens, merges applied
    (== chars − tokens, the per-application count law), and the
    quantized compression ratio — the tokenizer-quality numbers a
    training-data pipeline reads before committing to a vocab.

    The 20-row merge table is collected once to parameterize the fold
    literals (the training loop's own 1-row-per-round collect class —
    k-means-centroid scalars, not data).

    Scale shape: encoding is VOCABULARY-grain (distinct words), one
    narrow map per rule round with localCheckpoint truncating plan
    growth (the training loop's shape minus the pair-count shuffles);
    the corpus join is a hash join on word and the output is
    source-grain.  At 100 TB the vocab table is the small side — this
    is exactly how a learned tokenizer is applied in production, and
    the oracle replays the identical chain in SQL."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    wsrc = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
        )
        .filter(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    enc = _bpe_encoded_vocab(spark, sf_dir)
    agg = wsrc.join(enc, "word").groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_chars")).cast("bigint").alias("n_char_symbols"),
        F.sum(F.col("cnt") * F.col("n_tok")).cast("bigint").alias("n_bpe_tokens"),
        F.sum(F.col("cnt") * (F.col("n_chars") - F.col("n_tok")))
        .cast("bigint")
        .alias("merges_applied"),
    )
    return agg.select(
        "source",
        "n_words",
        "n_char_symbols",
        "n_bpe_tokens",
        "merges_applied",
        F.when(
            F.col("n_char_symbols") > 0,
            F.expr(
                round_stable_sql("CAST(n_bpe_tokens AS DOUBLE) / CAST(n_char_symbols AS DOUBLE)", 6)
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("bpe_ratio"),
    )


# BPE-token packing budget.  Larger than the whitespace twin's 2048:
# at 20 learned merges the vocabulary is still near char grain
# (bpe_ratio ~0.8-0.9), so a doc carries ~5-6× more BPE tokens than
# whitespace tokens and the bin must grow with the unit or every doc
# becomes its own bin.
_PACK_BPE_BUDGET = 8192


def _pack_bpe_oracle(merges: int = _BPE_MERGES) -> str:
    """Composed verbatim from the training chain (`_bpe_cte_chain`,
    final_state=True — the `_bpe_encode_oracle` discipline): the
    packing's token unit is the SAME final word→symbols state the
    encoder reads, so Σ packed tokens == encoded tokens by
    construction, not by coincidence."""
    sep = "chr(10)"
    chain = ",\n".join(_bpe_cte_chain(merges, final_state=True))
    return rf"""
WITH {chain},
enc AS MATERIALIZED (
    SELECT word, CAST(len(string_split(sym, {sep})) AS BIGINT) AS n_tok
    FROM sy{merges}
),
dwords AS MATERIALIZED (
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents
    )
    WHERE len(word) > 0 GROUP BY doc_id, word
),
dtok AS (
    SELECT d.doc_id, d.source,
           CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens
    FROM documents d
    LEFT JOIN (
        SELECT w.doc_id, sum(w.cnt * e.n_tok) AS n_tokens
        FROM dwords w JOIN enc e ON e.word = w.word
        GROUP BY w.doc_id
    ) t ON t.doc_id = d.doc_id
),
filled AS (
    SELECT source, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens
    FROM dtok
),
binned AS (
    SELECT source, doc_id, n_tokens,
           (cum_tokens - n_tokens) // {_PACK_BPE_BUDGET} AS bin_id
    FROM filled
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM binned
GROUP BY source, bin_id
"""


@register(
    "sequence_packing_bpe",
    survey="LLM-pipeline extension: sequence packing in LEARNED-tokenizer units",
    oracle=_pack_bpe_oracle(),
)
def sequence_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing in the units the training epoch actually
    spends — learned BPE tokens (r11 verdict: the epoch budget now
    speaks `bpe_encode_corpus` tokens via `post_dedup_mixing_weights`,
    but `sequence_packing` still binned by whitespace counts, so the
    packed shards and the token budget used different rulers).  Each
    document's token count is its word multiset joined to the SHARED
    encoded vocabulary (`_bpe_encoded_vocab` — the exact frame the
    encoder aggregates), then the whitespace twin's per-shard cumsum
    bins it: bin_id = (cumsum − own) div budget, sharded by source
    (the grain the mixing weights budget per).  Wordless documents
    pack at zero tokens (left join) so every doc lands in a shard.

    Law (tests/test_cross_query_invariants.py): Σ total_tokens per
    source == `bpe_encode_corpus.n_bpe_tokens` per source, BIT-exact —
    the packed epoch is the encoded corpus, no unit drift.

    Scale shape: encoding stays vocabulary-grain (the narrow fold
    chain); the per-doc count is one hash join on word + a doc-grain
    aggregate; packing is the same per-shard window cumsum as the
    whitespace twin (no global order, no serial loop).  At 100 TB the
    vocab is the broadcast side and each source shard packs
    independently."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    dwords = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
        )
        .filter(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    enc = _bpe_encoded_vocab(spark, sf_dir)
    per_doc = (
        dwords.join(enc, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("n_tok")).alias("n_tokens"))
    )
    dtok = d.select("doc_id", "source").join(per_doc, "doc_id", "left").select(
        "source",
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
    )
    binned = dtok.select(
        "source",
        "doc_id",
        "n_tokens",
        F.expr(
            f"(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
            f"div {_PACK_BPE_BUDGET}"
        ).alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )
