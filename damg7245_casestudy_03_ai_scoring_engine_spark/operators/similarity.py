"""Similarity search over the `embeddings` table (array<float> vecs).

- brute-force cosine top-k: the correctness baseline; cross-join +
  per-query top-k window.  Fine for small query sets; O(n·q).
- IVF-lite top-k: the scale path — centroids (here: per-label mean,
  i.e. a pre-trained coarse quantizer), assign query → nearest
  centroid, search only that partition.  At 100 TB the data side is
  bucketed by centroid id so a probe touches 1/nlist of the data.
- embedding-cosine near-dup pairs: threshold self-join.

All vector math is higher-order-function column math in double
precision (functions/vectors.py) — identical arithmetic is replayed
in the DuckDB oracle via DOUBLE[] casts, and every rank/filter uses
the 6-dp *rounded* similarity so FP ordering can't diverge between
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cache import (
    dataset_tag,
    session_memo,
    session_persist,
    tracked_persist,
)
from ..functions.core import topk_ranked
from ..functions.vectors import cosine_similarity_sql, dot_sql, l2_norm_sql
from ..sources.catalog import load, read_parquet_memo
from ..sources.scratch import scratch_dir
from .registry import register

_N_QUERIES = 10
_TOP_K = 5
# The family's ranking: per query, best cosine first, cand_id breaks ties.
_BY_COSINE = "PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC"

# Margin-adaptive IVF probing (r8).  A fixed probe count is the wrong
# knob once the corpus loses cluster structure: on the decorrelated
# sf1i axis the r7 recall probe measured recall@5 = 0.40 single-probe /
# 0.54 two-probe (true neighbors sit at cosine 0.40-0.66, barely above
# the random tail, spread across cells), while the replica-concentrated
# sf1 axis read a flattering 1.00.  The production answer (FAISS-style
# recall-targeted nprobe, made deterministic): probe every cell whose
# quantizer score is within _IVF_DELTA of the query's best cell, capped
# — a query with a confident quantizer margin stays at ~1-2 probes, a
# flat-margin query (structureless neighborhood) escalates to the cap.
# Measured (tools/scale_probe.py --recall + numpy prototype): min=1
# cap=5 → 0.66/1.00/0.78 mean recall@5 at sf0.1/sf1/sf1i with 2.1
# probes avg on structured data; min=2 cap=6 → 0.68/1.00/0.82.
_IVF_DELTA = 0.2
_IVF_CAP = 5        # ann_ivf_topk / ann_ivf_partition_pruned
_IVF_MULTI_MIN = 2  # ann_ivf_multiprobe: guaranteed probe depth…
_IVF_MULTI_CAP = 6  # …and its escalation cap


def _query_panel(vectors: DataFrame, n: int = _N_QUERIES) -> DataFrame:
    """The query panel: the first `n` rows of a (vec_id, embedding, …)
    frame, renamed to (query_id, qv, …).  Any other column rides
    along (ann_ivf_kmeans's cluster)."""
    return vectors.filter(F.col("vec_id") < n).withColumnsRenamed(
        {"vec_id": "query_id", "embedding": "qv"}
    )


def _exact_cosine(pairs: DataFrame) -> DataFrame:
    """The family's exact score over (query_id, qv) ⋈ (cand_id, cv)
    pairs from any candidate join: self pairs drop, and the two vectors
    become the 6-dp rounded `cosine` every ranking and threshold here
    compares (the oracles round the same fold).  Any other column of
    `pairs` rides through after (query_id, cand_id)."""
    rest = [c for c in pairs.columns if c not in ("query_id", "cand_id", "qv", "cv")]
    return pairs.filter(F.col("query_id") != F.col("cand_id")).select(
        "query_id",
        "cand_id",
        *rest,
        F.round(F.expr(cosine_similarity_sql("qv", "cv")), 6).alias("cosine"),
    )


# Shared by ann_topk_bruteforce (JVM fold) and — since r13 —
# ann_topk_vectorized (Arrow/numpy kernel): both compute the same
# 6dp-rounded cosine top-k under the same (cosine DESC, cand_id ASC)
# total order, so one truth oracle serves both (r12 verdict #6; the
# kernel now rounds BEFORE its local selection so the per-batch cut
# uses the global ranking order).
_ANN_BRUTE_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {_N_QUERIES}
),
c AS (
    SELECT vec_id AS cand_id, label AS cand_label, embedding::DOUBLE[] AS cv
    FROM embeddings
),
scored AS (
    SELECT query_id, cand_id, cand_label,
           round(CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
                       AND sqrt(list_dot_product(cv, cv)) > 0
                      THEN list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                      ELSE 0.0 END, 6) AS cosine
    FROM q CROSS JOIN c
    WHERE query_id <> cand_id
)
SELECT query_id, cand_id, cand_label, cosine, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rk
    FROM scored
)
WHERE rk <= {_TOP_K}
"""


@register(
    "ann_topk_bruteforce",
    survey="similarity (extension)",
    # bench flag retired r12 (wall-budget rotation, r11 verdict #6):
    # ann_topk_vectorized keeps the brute-force family benched — the
    # Arrow kernel is the path whose health the wall can't see
    # elsewhere, while this JVM fold rides every recall probe as the
    # truth oracle anyway.
    oracle=_ANN_BRUTE_ORACLE,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 query vectors.
    Ranking uses the rounded similarity + id tie-break so the result
    set is engine-deterministic."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("cv"),
    )
    pairs = _query_panel(emb.drop("label")).crossJoin(c)
    return topk_ranked(_exact_cosine(pairs), _BY_COSINE, _TOP_K)


# The IVF family's cell filing, replayed in DuckDB.
#
# r7 FIX, caught by the sf1 recall probe (SCALE.md): candidates used
# to be binned by their STORED label while queries probed by nearest
# centroid — structurally inconsistent IVF (a query near a cell
# boundary probes a cell its true neighbors were never filed in;
# recall@5 vs brute force collapsed to 0.30 at sf1 while wall ratios
# looked great).  Every vector — data and query alike — is now
# assigned by the SAME coarse quantizer (argmax centroid cosine, 6dp,
# label-asc tie-break), exactly what FAISS's IVF add() does.  The
# per-label means remain the "pre-trained" quantizer; only filing
# changed.  The v_cell CTE below replays the assignment for all
# vectors.
_IVF_CELLS_SQL = f"""
cent_flat AS (
    SELECT label, i, avg(CAST(x AS DOUBLE)) AS cx
    FROM (
        SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        FROM embeddings
    )
    GROUP BY label, i
),
v_flat AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
),
v_cent AS (
    SELECT v.vec_id, c.label,
           round(CASE WHEN sqrt(sum(v.x * v.x)) > 0 AND sqrt(sum(c.cx * c.cx)) > 0
                      THEN sum(v.x * c.cx) / (sqrt(sum(v.x * v.x)) * sqrt(sum(c.cx * c.cx)))
                      ELSE 0.0 END, 6) AS cosine
    FROM v_flat v JOIN cent_flat c ON v.i = c.i
    GROUP BY v.vec_id, c.label
),
v_cell AS (
    SELECT vec_id, label AS cell
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, label
        ) AS rk
        FROM v_cent
    )
    WHERE rk = 1
)
"""


def _ivf_oracle(min_probes: int, cap: int) -> str:
    """Shared DuckDB oracle for the IVF family: quantizer-consistent
    cell filing for every vector, margin-adaptive probing (top
    `min_probes` cells always; cells within _IVF_DELTA of the best
    cell up to `cap`), exact re-rank within the probed cells.  The
    margin comparison runs on the same 6dp-rounded cosines both
    engines rank by, and `best - delta` is one IEEE subtraction of
    identical doubles — deterministic across engines."""
    return f"""
WITH {_IVF_CELLS_SQL.strip()},
assign AS (
    SELECT vec_id AS query_id, label AS probe_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, label
        ) AS rk,
        max(cosine) OVER (PARTITION BY vec_id) AS best
        FROM v_cent
    )
    WHERE vec_id < {_N_QUERIES}
      AND (rk <= {min_probes}
           OR (rk <= {cap} AND cosine >= best - {_IVF_DELTA}))
),
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
    SELECT DISTINCT q.query_id, e.vec_id AS cand_id,
           round(CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) > 0
                       AND sqrt(list_dot_product(e.cv, e.cv)) > 0
                      THEN list_dot_product(q.qv, e.cv)
                           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.cv, e.cv)))
                      ELSE 0.0 END, 6) AS cosine
    FROM assign a
    JOIN q ON a.query_id = q.query_id
    JOIN (SELECT em.vec_id, vc.cell, em.embedding::DOUBLE[] AS cv
          FROM embeddings em JOIN v_cell vc ON vc.vec_id = em.vec_id) e
      ON e.cell = a.probe_label AND e.vec_id <> q.query_id
)
SELECT query_id, cand_id, cosine, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rk
    FROM scored
)
WHERE rk <= {_TOP_K}
"""


_IVF_TOPK_ORACLE = _ivf_oracle(min_probes=1, cap=_IVF_CAP)


def _ivf_cent_flat(emb: DataFrame) -> DataFrame:
    """(label, i, cx): the coarse quantizer — per-label dimension
    means.  One posexplode aggregate, ~nlist·dim rows, broadcastable."""
    return (
        emb.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("cx"))
    )


def _ivf_cell_scores(vectors: DataFrame, cent_flat: DataFrame) -> DataFrame:
    """(vec_id, label, cosine): every vector scored against every
    centroid — the quantizer evaluation shared by data filing and
    query probing (both sides MUST use the same arithmetic or the
    index is inconsistent).  posexplode → broadcast centroid join →
    per-(vector, centroid) aggregate; 6-dp rounding + label tie-break
    keep the argmax engine-deterministic."""
    v_flat = vectors.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    return (
        v_flat.join(F.broadcast(cent_flat), "i")
        .groupBy("vec_id", "label")
        .agg(_cosine_agg("x", "cx").alias("cosine"))
    )


def _ivf_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coarse quantizer (label, i, cx) — per-label dim means —
    memoized + persisted per (session, sf) like the filing itself: at
    100 TB this is the index's persisted codebook (nlist×dim rows,
    broadcastable), trained once and read by every filing, probe, and
    maintenance pass.  Before r10 each IVF query re-aggregated it from
    the full corpus; caching it removes one corpus-wide explode+agg
    per consumer at identical values (same plan, same partials)."""
    tag = dataset_tag(sf_dir)
    return session_persist(
        spark,
        f"ivf.quantizer.{tag}",
        lambda: _ivf_cent_flat(load(spark, sf_dir, "embeddings", fan_out=True)),
    )


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell) for EVERY vector, filed by nearest centroid —
    the inverted-file assignment (FAISS IVF add()).  Memoized +
    persisted per (session, sf): the assignment is an ingest-time
    cost amortized over every probe, exactly like the layout builds.
    At 100 TB this is one linear pass (explode → broadcast-join the
    tiny quantizer → map-side-combinable aggregate → per-vector
    argmax window, partitioned by vec_id)."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings", fan_out=True)
        scores = _ivf_cell_scores(
            emb.select("vec_id", "embedding"), _ivf_quantizer(spark, sf_dir)
        )
        return topk_ranked(
            scores, "PARTITION BY vec_id ORDER BY cosine DESC, label ASC", 1
        ).select("vec_id", F.col("label").alias("cell"))

    return session_persist(spark, f"ivf.cells.{tag}", build)


def _ivf_probe_assign(
    spark: SparkSession, sf_dir: str, min_probes: int, cap: int
) -> DataFrame:
    """(query_id, probe_label): each query's probe set by the same
    quantizer arithmetic used for filing — margin-adaptive: the top
    `min_probes` cells always, plus cells scoring within _IVF_DELTA
    of the query's best cell, up to `cap` (see the constant block for
    the measured recall rationale).

    Memoized + persisted per (session, sf, min_probes, cap) — r13,
    guide §2.4: the frame is O(queries·cap) rows but its subtree
    (query scan → quantizer scores → two windows) was re-evaluated
    per consumer, and `ann_ivfpq_adc_topk` alone plans it TWICE per
    run (once inside the broadcast LUT subplan, once on the probe
    side).  At 100 TB the probe set is serving-path metadata computed
    once per query batch, not once per plan branch."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings", fan_out=True)
        q_scores = _ivf_cell_scores(
            emb.filter(F.col("vec_id") < _N_QUERIES).select("vec_id", "embedding"),
            _ivf_quantizer(spark, sf_dir),
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("label"))
        best = F.max("cosine").over(Window.partitionBy("vec_id"))
        return (
            q_scores.withColumn("rk", F.row_number().over(w))
            .withColumn("best", best)
            .filter(
                (F.col("rk") <= min_probes)
                | (
                    (F.col("rk") <= cap)
                    & (F.col("cosine") >= F.col("best") - _IVF_DELTA)
                )
            )
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("probe_label"),
            )
        )

    return session_persist(spark, f"ivf.probes.{tag}.{min_probes}.{cap}", build)


def _ivf_probe_side(
    spark: SparkSession, sf_dir: str, emb: DataFrame, min_probes: int, cap: int
) -> DataFrame:
    """(query_id, probe_label, qv): each panel query once per cell of
    its margin-adaptive probe set (the r8 recall fix — see the
    _IVF_DELTA constant block)."""
    return _ivf_probe_assign(spark, sf_dir, min_probes, cap).join(
        _query_panel(emb.drop("label")), "query_id"
    )


def _filed_candidates(filing: DataFrame) -> DataFrame:
    """(cand_id, probe_label, cv) from a (vec_id, cell, embedding, …)
    filing: every vector under the cell the QUANTIZER filed it in, not
    its stored label (the r7 recall fix; see _ivf_oracle)."""
    return filing.select(
        F.col("vec_id").alias("cand_id"),
        F.col("cell").alias("probe_label"),
        F.col("embedding").alias("cv"),
    )


def _ivf_pairs(
    spark: SparkSession, sf_dir: str, min_probes: int, cap: int
) -> DataFrame:
    """(query_id, qv, cand_id, cv): the probe side ⋈ the persisted
    (vec_id, cell) filing on the probed cell.  (query_id, cand_id) is
    unique by construction — the filing holds exactly one cell per
    vector and the probe set one row per (query, cell) — so no
    distinct: a dedup here would shuffle the whole scored candidate
    set for nothing (r13, guide §2.4; verified join-rows ==
    distinct-rows at the widest probe params)."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    probes = _ivf_probe_side(spark, sf_dir, emb, min_probes, cap)
    filed = _filed_candidates(emb.join(_ivf_cells(spark, sf_dir), "vec_id"))
    return probes.join(filed, "probe_label").drop("probe_label")


def _ivf_search(
    spark: SparkSession, sf_dir: str, min_probes: int, cap: int
) -> DataFrame:
    """IVF search: probed cells' candidates, exact re-rank, top-k."""
    pairs = _ivf_pairs(spark, sf_dir, min_probes, cap)
    return topk_ranked(_exact_cosine(pairs), _BY_COSINE, _TOP_K)


@register(
    "ann_ivf_topk",
    survey="similarity (extension)",
    oracle=_IVF_TOPK_ORACLE,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-label-mean centroids as the pre-trained
    coarse quantizer; every vector FILED by its nearest centroid (the
    persisted inverted-file assignment); single-probe search within
    the query's cell, exact re-rank inside.

    r7: filing switched from the stored label to the quantizer after
    the sf1 recall probe measured 0.30 recall@5 for label-filed
    candidates (a boundary query probes a cell its true neighbors
    were never filed in — the structural inconsistency wall-clock
    ratios can't see).  Quantizer-consistent filing restores the IVF
    contract: a query and its near-identical neighbors land in the
    same cell by construction.

    r8: probing switched from fixed single-probe to margin-adaptive
    (top cell always; cells within _IVF_DELTA of the best up to
    _IVF_CAP) after the sf1i recall probe measured 0.40 recall@5 on
    the decorrelated axis — a confident quantizer margin keeps the
    probe set at ~1-2 cells, a flat margin (no neighborhood
    structure) escalates to the cap.  Recall@5 ≥ 0.6 is pinned on
    both scaled axes by tools/scale_probe.py --recall."""
    return _ivf_search(spark, sf_dir, min_probes=1, cap=_IVF_CAP)


@register(
    "embedding_near_dup",
    survey="S18,similarity (extension)",
    oracle="""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       a.label AS label_a, b.label AS label_b,
       round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                   AND sqrt(list_dot_product(b.v, b.v)) > 0
                  THEN list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  ELSE 0.0 END, 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                  AND sqrt(list_dot_product(b.v, b.v)) > 0
                 THEN list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 ELSE 0.0 END, 6) >= 0.4
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4 on this
    synthetic corpus).  At scale this becomes an LSH/IVF-blocked join;
    the all-pairs form is the oracle anchor."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"),
        F.col("embedding").alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
        F.col("embedding").alias("vb"),
    )
    cos = F.round(F.expr(cosine_similarity_sql("va", "vb")), 6)
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "label_a", "label_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


_SEMDEDUP_TAU = 0.4


@register(
    "semantic_dedup",
    survey="S18,similarity (extension: SemDeDup cluster-blocked semantic dedup)",
    oracle=f"""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
pairs AS (
    SELECT b.vec_id AS vec_b
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                      AND sqrt(list_dot_product(b.v, b.v)) > 0
                     THEN list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                     ELSE 0.0 END, 6) >= {_SEMDEDUP_TAU}
),
dc AS (
    SELECT vec_b, count(*) AS n FROM pairs GROUP BY vec_b
)
SELECT e.vec_id, e.label,
       CAST(coalesce(dc.n, 0) AS BIGINT) AS n_dups_earlier,
       coalesce(dc.n, 0) = 0 AS keep
FROM e LEFT JOIN dc ON e.vec_id = dc.vec_b
""",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, compare
    cosines ONLY within a cluster, and drop every vector that
    duplicates (cos ≥ τ) an earlier-id vector — the canonical
    keep-the-first policy.

    Cluster-blocking is the entire scale story: the O(n²) semantic
    pair space becomes Σ O(|c|²) via a label equi-join (no cross-
    cluster pairs, no CartesianProduct — plan-pinned).  Here the
    coarse clusters are the corpus labels so the DuckDB oracle can
    replay the whole pipeline; at 100 TB the cluster id comes from a
    learned coarse quantizer instead (`ann_ivf_kmeans` is that
    variant) and nothing else changes.

    Output: one row per vector with its earlier-duplicate count and
    the keep/drop verdict a curation pipeline would apply."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    a = e.select(
        "label", F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va")
    )
    b = e.select(
        "label", F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb")
    )
    dup_of_earlier = (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(F.round(F.expr(cosine_similarity_sql("va", "vb")), 6) >= _SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        e.join(dup_of_earlier, e.vec_id == dup_of_earlier.vec_b, "left")
        .select(
            "vec_id",
            "label",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_dups_earlier"),
            (F.coalesce("n", F.lit(0)) == 0).alias("keep"),
        )
    )


_N_PLANES = 32
_BAND_BITS = 4
_DIM = 64


def _plane_weight(p: int, i: int) -> int:
    """The hyperplane weight formula, evaluated driver-side: md5 of
    'rhp|p|i' → first 15 hex digits → % 2001 - 1000.  Bit-identical to
    the DuckDB oracle's planes CTE (and to the former in-plan
    `F.conv(md5(...))` derivation) — md5 is engine-agnostic, so a
    2048-int constant table needs no distributed build at all."""
    import hashlib

    h = hashlib.md5(f"rhp|{p}|{i}".encode()).hexdigest()
    return int(h[:15], 16) % 2001 - 1000


def _lsh_planes_frame(spark: SparkSession, n_planes: int) -> DataFrame:
    """Session-memoized 1-row frame holding the n_planes×_DIM constant
    hyperplane weight table as `pl array<array<bigint>>` — the
    broadcast-attach carrier for `_lsh_band_codes`.  localCheckpoint
    so every consumer plan sees one tiny leaf instead of a literal
    forest; the weights are pure md5 math (no data dependency), so the
    memo is a constant table, not a cached result."""

    def build() -> DataFrame:
        pl = [
            [_plane_weight(p, i) for i in range(1, _DIM + 1)]
            for p in range(n_planes)
        ]
        return spark.createDataFrame(
            [(pl,)], "pl array<array<bigint>>"
        ).localCheckpoint()

    return session_memo(spark, f"lsh_planes.{n_planes}", build)


def _lsh_band_codes(
    emb: DataFrame, band_bits: int, n_planes: int = _N_PLANES
) -> DataFrame:
    """Signed-random-projection band codes for every vector: n_planes
    md5-derived integer hyperplanes grouped into n_planes//band_bits
    bands of band_bits sign bits each.  Returns one row per (vector,
    band) with the quantized vector `vq` (floor(x·1000) int64) and its
    L2 norm riding along so the candidate join needs no lookup back to
    the vector table.  Wider bands = exponentially more selective
    buckets (P(collide) = p_bit^band_bits): band_bits is the knob the
    SRP-LSH theory says must grow ~log₂ n for sub-quadratic candidate
    sets at scale — `lsh_pairs_topk` derives it from the corpus count
    at plan build (see _topk_band_bits); the md5 plane family extends
    to any p, so wider bands just read further into it."""
    vq = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    quantized = emb.select("vec_id", "embedding", vq.alias("vq"))

    # The constant plane weights ride as DATA — a session-memoized
    # 1-row frame crossJoined in (the repo's 1-row broadcast-attach
    # pattern) — not as in-plan literals.  r13, guide §5/§7.3: the
    # former per-band spliced-SQL literals put ~n_planes×64 constant
    # nodes into the logical plan, and because every DataFrame
    # transformation eagerly re-analyzes its subtree, each downstream
    # select/join on the codes frame paid ~25 ms of analyzer walk over
    # that constant forest — ~1 s of driver time per CONSTRUCTION of
    # the consumer queries (measured via cProfile: 1795 py4j round
    # trips, 0.93 s socket wait).  As a 1-row array<array<bigint>>
    # column the plan holds ONE small HOF expression; the arithmetic
    # (IF(vq·w_p >= 0) bits packed little-endian per band) is
    # unchanged and bit-identical to the DuckDB planes CTE.
    n_bands = n_planes // band_bits
    planes = _lsh_planes_frame(emb.sparkSession, n_planes)
    code_expr = F.expr(
        f"""explode(transform(sequence(0, {n_bands - 1}), b -> struct(
            CAST(b AS BIGINT) AS band,
            aggregate(transform(sequence(0, {band_bits - 1}), j ->
                IF(aggregate(zip_with(vq,
                                      element_at(pl, b * {band_bits} + j + 1),
                                      (x, y) -> x * y),
                             CAST(0 AS BIGINT), (acc, v) -> acc + v) >= 0,
                   shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))),
                CAST(0 AS BIGINT), (acc, v) -> acc + v) AS code)))"""
    )
    # vq + its integer norm ride through the band explode so the
    # candidate stage needs no join back to the vector table — one
    # narrow stage straight into the (band, code) shuffle.
    qn = F.expr(
        "sqrt(CAST(aggregate(zip_with(vq, vq, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE))"
    )
    return (
        quantized.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "vq",
            qn.alias("qn"),
            code_expr.alias("bc"),
        )
        .select("vec_id", "vq", "qn", "bc.band", "bc.code")
    )


def _lsh_verified_pairs(emb: DataFrame, codes: DataFrame) -> DataFrame:
    """(vec_a < vec_b, cosine) for every pair colliding in some
    (band, code) bucket of `codes` whose exact 6-dp cosine is ≥ 0.4:
    the (band, code) self-join, the output-invisible integer
    quantized-cosine prefilter, distinct, and the exact verify over
    two broadcast joins (see `lsh_cosine_pairs` for why each step is
    exact and what it costs)."""
    a = codes.select(
        "band", "code", F.col("vec_id").alias("vec_a"),
        F.col("vq").alias("qa"), F.col("qn").alias("qna"),
    )
    b = codes.select(
        "band", "code", F.col("vec_id").alias("vec_b"),
        F.col("vq").alias("qb"), F.col("qn").alias("qnb"),
    )
    cand = (
        a.join(b, ["band", "code"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            "CAST(aggregate(zip_with(qa, qb, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
            " >= 0.39D * qna * qnb"
        )
        .select("vec_a", "vec_b")
        .distinct()
    )

    e = emb.select("vec_id", "embedding", F.expr(l2_norm_sql("embedding")).alias("nrm"))
    va = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    # Broadcast the vector side explicitly: the candidate list is the
    # big side after prefiltering, and letting AQE discover that costs
    # two extra shuffle stages of pure overhead.
    return (
        cand.join(F.broadcast(va), "vec_a")
        .join(F.broadcast(vb), "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


@register(
    "lsh_cosine_pairs",
    survey="S18,similarity (extension: random-hyperplane LSH)",
    oracle=f"""
WITH planes AS (
    SELECT p.p, i.i,
           (('0x' || substr(md5('rhp|' || p.p || '|' || i.i), 1, 15))::BIGINT % 2001) - 1000 AS w
    FROM generate_series(0, {_N_PLANES - 1}) p(p), generate_series(1, {_DIM}) i(i)
),
flat AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS vq
    FROM embeddings
),
bits AS (
    SELECT f.vec_id, p.p, CASE WHEN sum(f.vq * p.w) >= 0 THEN 1 ELSE 0 END AS bit
    FROM flat f JOIN planes p ON f.i = p.i
    GROUP BY f.vec_id, p.p
),
codes AS (
    SELECT vec_id, p // 4 AS band, CAST(sum(bit << (p % 4)) AS BIGINT) AS code
    FROM bits GROUP BY vec_id, p // 4
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM codes a JOIN codes b ON a.band = b.band AND a.code = b.code
    WHERE a.vec_id < b.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT c.vec_a, c.vec_b,
       round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                   AND sqrt(list_dot_product(b.v, b.v)) > 0
                  THEN list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  ELSE 0.0 END, 6) AS cosine
FROM cand c JOIN e a ON c.vec_a = a.vec_id JOIN e b ON c.vec_b = b.vec_id
WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                  AND sqrt(list_dot_product(b.v, b.v)) > 0
                 THEN list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 ELSE 0.0 END, 6) >= 0.4
""",
)
def lsh_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (signed-random-projection) LSH for cosine
    near-dup pairs: 32 hyperplanes → 32-bit signature → 8 bands of 4
    bits; pairs colliding in ANY band are candidates, then verified
    with the exact cosine ≥ 0.4.  (8×4 doubles measured recall vs the
    `embedding_near_dup` truth set over the old 4×4 layout — ~0.77 vs
    ~0.53 at sf0.1 — because a true pair only needs one of eight band
    hits.)

    Engine-determinism: plane weights are md5-derived ints in
    [-1000, 1000] and vectors are quantized with floor(x·1000), so
    every signature bit is an INTEGER dot-product sign — immune to FP
    summation order across partitions/engines.

    Scale shape: the weights are a driver-computed CONSTANT (md5 needs
    no cluster), so the whole 32-bit signature is ONE narrow
    projection per vector — no explode, no plane join, no groupBy:
    zero shuffles until the candidate join.  That join is a
    self-equi-join on (band, code) — at 100 TB the band buckets ARE
    the blocking structure, replacing the O(n²) cross join with
    per-bucket joins.  The per-pair prefilter is a pure-INTEGER
    quantized cosine evaluated inside whole-stage codegen
    (qdot ≥ 0.39·‖qa‖·‖qb‖ — multiply-compare, no division): int64
    dots of floor(x·1000) values stay < 2^53, so the test is exact
    and order-free, and quantization error ≲ 2e-3 means qcos ≥ 0.39
    provably retains every true cosine ≥ 0.4 pair — the prefilter is
    output-invisible (the oracle replays only the band structure +
    exact verify).  Survivors (~0.1% of candidates) are distinct-ed
    and verified with the exact cosine via two broadcast joins of the
    tiny vector table, whose L2 norms are precomputed once.

    (An earlier applyInPandas revision GEMM-ed each (band, code)
    bucket in numpy; at bench scale the Python-worker/Arrow round
    trip cost ~1.1 s for 16k bucket rows where this codegen pipeline
    spends ~0.1 s — and staying JVM-side also keeps every shuffle
    AQE-coalescible.  At 100 TB a pathologically hot bucket
    (degenerate code) would need a size cap or salt+re-verify; band
    codes on real embeddings spread far better than that.)

    SCALE NOTE (measured, SCALE.md): a fixed LOW threshold makes the
    output itself Θ(n²·P(cos ≥ t)) — at 10× data the qualifying pair
    set grows ~106× and wall tracks it.  That is the problem
    statement, not the plan; this query stays registered as the
    exhaustive pair LISTING (and the oracle anchor), while
    `lsh_pairs_topk` — k-bounded output, wider bands — is the bench
    headliner and the shape that survives 100×."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    # Persisted for the same both-sides-of-the-self-join reason as
    # lsh_pairs_topk (r13): without it the signature projection runs
    # twice per invocation.
    codes = tracked_persist(
        _lsh_band_codes(emb, _BAND_BITS), "lsh_cosine_pairs.codes"
    )

    return _lsh_verified_pairs(emb, codes)


_TOPK_BAND_BITS_FLOOR = 8   # fixture-scale behavior (n ≤ 65 536 → 8 bits)
_TOPK_BAND_BITS_CAP = 16    # int64 code + plane-family budget (4×16 planes)
_TOPK_BANDS = 4             # band COUNT is fixed; band WIDTH grows with n
_TOPK_PAIRS_K = 5


def _topk_band_bits(n: int) -> int:
    """Auto-sized SRP band width for `lsh_pairs_topk`: r = ⌈log₂ n⌉ − 8,
    floored at 8 bits and capped at 16.

    The sizing rule the docstring's SRP-LSH theory prescribes, now in
    code (like the Bloom index's adaptive width, layout.py): with
    2^r ≈ n/256, a random (band, code) bucket holds ~256 vectors in
    expectation regardless of n, so the bucket self-join — the only
    quadratic-risk stage — generates O(256·n) candidate pairs per
    band, linear in the corpus.  A fixed width instead lets expected
    bucket size grow ∝ n and candidates ∝ n²/2^r.  Band COUNT stays
    at 4 (n_planes = 4r), so near-dup recall keeps the
    ≥1-of-4 structure: at cos 0.95 (p_bit ≈ 0.90) a 10-bit band hits
    with p ≈ 0.34, ≥1-of-4 ≈ 0.81 — the shortlist regime the operator
    targets.  ⌈log₂ n⌉ is safe cross-engine: exact for powers of two
    in both engines, and ≥1e-7 from any integer otherwise (8 orders
    above double ulp), so the DuckDB oracle derives the identical r
    from count(*).  Fixture SFs (n ≤ 60 k) all land on the 8-bit
    floor — the oracle-stable behavior every driver run checks; the
    first growth step is exercised by the sf10 scale probe (n = 200 k
    → r = 10)."""
    import math

    return max(
        _TOPK_BAND_BITS_FLOOR,
        min(_TOPK_BAND_BITS_CAP, math.ceil(math.log2(max(n, 2))) - 8),
    )


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    """Exact embeddings row count from parquet footers (driver-side,
    no Spark job — the `_bloom_bits_for` sizing pattern, layout.py),
    memoized per (session, dataset).  Falls back to a Spark count when
    the footers can't be read: no local file (a non-local path) is an
    OSError, a file without a parquet footer is pyarrow's ArrowInvalid.
    Any other error propagates."""

    def build() -> int:
        import glob as _glob
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = _os.path.join(sf_dir, "embeddings.parquet")
        files = (
            [path]
            if _os.path.isfile(path)
            else sorted(_glob.glob(_os.path.join(path, "*.parquet")))
        )
        try:
            if not files:
                raise FileNotFoundError(path)
            n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        except (OSError, pa.ArrowInvalid):
            n = load(spark, sf_dir, "embeddings").count()
        return int(n)

    return session_memo(spark, f"emb_n.{dataset_tag(sf_dir)}", build)


@register(
    "lsh_pairs_topk",
    bench=True,
    survey="S18,similarity (extension: k-bounded LSH near-dup shortlist)",
    oracle=f"""
WITH sizing AS (
    SELECT GREATEST({_TOPK_BAND_BITS_FLOOR}, LEAST({_TOPK_BAND_BITS_CAP},
        CAST(ceil(log2(CAST(GREATEST(count(*), 2) AS DOUBLE))) AS BIGINT) - 8)) AS r
    FROM embeddings
),
planes AS (
    SELECT p.p, i.i,
           (('0x' || substr(md5('rhp|' || p.p || '|' || i.i), 1, 15))::BIGINT % 2001) - 1000 AS w
    FROM generate_series(0, {_TOPK_BANDS * _TOPK_BAND_BITS_CAP - 1}) p(p),
         generate_series(1, {_DIM}) i(i), sizing s
    WHERE p.p < {_TOPK_BANDS} * s.r
),
flat AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS vq
    FROM embeddings
),
bits AS (
    SELECT f.vec_id, p.p, CASE WHEN sum(f.vq * p.w) >= 0 THEN 1 ELSE 0 END AS bit
    FROM flat f JOIN planes p ON f.i = p.i
    GROUP BY f.vec_id, p.p
),
codes AS (
    SELECT vec_id, band, CAST(sum(bit << shift) AS BIGINT) AS code
    FROM (
        SELECT b.vec_id, b.p // s.r AS band, b.p % s.r AS shift, b.bit
        FROM bits b CROSS JOIN sizing s
    )
    GROUP BY vec_id, band
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM codes a JOIN codes b ON a.band = b.band AND a.code = b.code
    WHERE a.vec_id < b.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kept AS (
    SELECT c.vec_a, c.vec_b,
           round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                       AND sqrt(list_dot_product(b.v, b.v)) > 0
                      THEN list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                      ELSE 0.0 END, 6) AS cosine
    FROM cand c JOIN e a ON c.vec_a = a.vec_id JOIN e b ON c.vec_b = b.vec_id
),
directed AS (
    SELECT vec_a AS item, vec_b AS partner, cosine FROM kept WHERE cosine >= 0.4
    UNION ALL
    SELECT vec_b AS item, vec_a AS partner, cosine FROM kept WHERE cosine >= 0.4
)
SELECT item, partner, cosine, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY item ORDER BY cosine DESC, partner
    ) AS rk
    FROM directed
)
WHERE rk <= {_TOPK_PAIRS_K}
""",
)
def lsh_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-bounded LSH near-dup shortlist: each vector's top-{_TOPK_PAIRS_K}
    most-similar partners (cosine ≥ 0.4 among SRP-LSH candidates),
    rank-deterministic (6-dp cosine desc, partner id asc).

    This is the scale-safe twin of `lsh_cosine_pairs` and the bench
    headliner.  Two structural changes bound it at 100 TB where the
    exhaustive listing is Θ(n²·P(cos≥t)) by problem statement:

    - **Output is ≤ k rows per vector** — linear in n by
      construction, like `ann_topk_*`, instead of growing with the
      qualifying pair count (measured 106× at 10× data for the
      fixed-threshold listing, SCALE.md).
    - **Band width is auto-sized from the corpus count** — r =
      max(8, min(16, ⌈log₂ n⌉ − 8)) sign bits per band, 4 bands of r
      (see `_topk_band_bits` for the sizing math: 2^r ≈ n/256 keeps
      the expected random bucket ~256 vectors, so the (band, code)
      self-join — the only quadratic-risk stage — stays O(n) in
      candidates instead of O(n²/2^r)).  A shortlist only needs
      recall on the near-duplicate regime (cos ≳ 0.9 → p_bit ≈ 0.86,
      8-bit band hit 0.86⁸ ≈ 0.29, ≥1-of-4 ≈ 0.75; the ≥1-of-4
      structure is preserved as r grows because the band count is
      fixed) rather than on every diffuse cos ≥ 0.4 pair.  Every
      fixture SF (n ≤ 60 k) lands on the 8-bit floor — the
      oracle-checked behavior is unchanged — while the sf10 probe
      (n = 200 k → r = 10) exercises the first growth step.  The
      count comes from parquet footers at plan build (no Spark job);
      the oracle derives the identical r from count(*).

    Plan shape mirrors the exhaustive twin: one narrow projection per
    vector (constant md5 planes, no explode-join), (band, code)
    self-equi-join with the pure-integer quantized-cosine prefilter
    inside codegen, distinct, exact verify over two broadcast joins,
    then a per-item ranking window (partitioned — no global sort).
    The oracle replays the identical band structure + verify + rank
    in DuckDB."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    r = _topk_band_bits(_emb_count(spark, sf_dir))
    # Persisted: BOTH sides of the (band, code) self-join consume this
    # frame, and their differing projections defeat exchange reuse, so
    # without materialization the 32-plane × 64-dim band-code
    # aggregates — the query's dominant per-task compute — run twice
    # per invocation (r13, guide §2.4 shared subtrees / §5 caching).
    codes = tracked_persist(
        _lsh_band_codes(emb, r, n_planes=_TOPK_BANDS * r),
        "lsh_pairs_topk.codes",
    )

    kept = _lsh_verified_pairs(emb, codes)
    directed = kept.select(
        F.col("vec_a").alias("item"), F.col("vec_b").alias("partner"), "cosine"
    ).unionByName(
        kept.select(
            F.col("vec_b").alias("item"), F.col("vec_a").alias("partner"), "cosine"
        )
    )
    return topk_ranked(
        directed, "PARTITION BY item ORDER BY cosine DESC, partner ASC", _TOPK_PAIRS_K
    ).select("item", "partner", "cosine", "rk")


@register(
    "ann_ivf_multiprobe",
    survey="similarity (extension: multi-probe IVF)",
    oracle=_ivf_oracle(min_probes=_IVF_MULTI_MIN, cap=_IVF_MULTI_CAP),
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: like `ann_ivf_topk` but with a deeper
    guaranteed probe floor (top-TWO cells always) and a higher
    escalation cap (_IVF_MULTI_CAP), recovering recall lost at cell
    boundaries for a bounded extra probe cost.  The probe set stays a
    broadcastable (query_id, probe_label) list; candidates from all
    probes flow through one shared top-k window.  Shares the
    quantizer-consistent filing with `ann_ivf_topk` (r7) and the
    margin-adaptive escalation rule (r8): its probe set is a SUPERSET
    of ann_ivf_topk's by construction (min 2 ≥ 1, cap 6 ≥ 5, same
    delta), so its recall dominates — pinned in
    tests/test_similarity_paths.py."""
    return _ivf_search(
        spark, sf_dir, min_probes=_IVF_MULTI_MIN, cap=_IVF_MULTI_CAP
    )


@register(
    "ann_topk_vectorized",
    survey="similarity (extension: Arrow/numpy fast path)",
    bench=True,
    # oracle-backed since r13 (r12 verdict #6; was rows-only): the
    # kernel rounds scores to 6dp with the round_stable formula BEFORE
    # its local per-batch selection, so local top-k under
    # (rounded DESC, cand_id ASC) composes exactly with the global
    # window and the JVM brute-force truth oracle applies verbatim.
    # numpy/BLAS ulp differences vs the SQL fold are absorbed by the
    # 6dp rounding — the same argument the whole cosine family rests
    # on (equivalence to the JVM path stays pinned in
    # tests/test_similarity_paths.py).
    oracle=_ANN_BRUTE_ORACLE,
)
def ann_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k via an Arrow-batched numpy kernel —
    the UDF fast path for wide embeddings: each partition receives the
    broadcast query block Q (k×d) and computes Q·Cᵀ for its candidate
    batch as ONE BLAS matmul instead of per-row zip_with folds.

    Scale shape: candidates stream through mapInPandas partitions
    (embarrassingly parallel); per-partition local top-k (k·|Q| rows
    out per partition) then a global window top-k — the shuffle
    carries only partition winners, not all n·|Q| scores."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    q_rows = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows])
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(Qn)

    schema = (
        "query_id long, cand_id long, cand_label int, cosine double"
    )

    def kernel(batches):
        qi, qn = bq_ids.value, bq.value
        for pdf in batches:
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(C) == 0:
                yield pd.DataFrame(
                    {"query_id": [], "cand_id": [], "cand_label": [], "cosine": []}
                )
                continue
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            S = qn @ Cn.T  # |Q| × batch
            # round_stable at 6dp BEFORE selection: the local cut must
            # use the SAME total order (rounded DESC, cand_id ASC) as
            # the global window, or a rounded tie straddling the cut
            # could drop the smaller cand_id the ranking would keep
            Sr = np.floor(S * 1e6 + 0.5) / 1e6
            cand_ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            out = {"query_id": [], "cand_id": [], "cand_label": [], "cosine": []}
            # local top-k per query within this batch
            k = min(_TOP_K + 1, S.shape[1])  # +1 in case self is present
            order = np.lexsort((cand_ids[None, :].repeat(len(qi), 0), -Sr), axis=1)
            for row, q_id in enumerate(qi):
                for j in order[row, :k]:
                    if cand_ids[j] == q_id:
                        continue
                    out["query_id"].append(q_id)
                    out["cand_id"].append(int(cand_ids[j]))
                    out["cand_label"].append(int(labels[j]))
                    out["cosine"].append(float(Sr[row, j]))
            yield pd.DataFrame(out)

    local = emb.select("vec_id", "label", "embedding").mapInPandas(
        kernel, schema=schema
    )
    return topk_ranked(local, _BY_COSINE, _TOP_K)


@register(
    "embedding_quantize_int8",
    survey="similarity (extension: int8 embedding quantization)",
    oracle="""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
scaled AS (
    SELECT vec_id, label,
           list_max(list_transform(v, x -> abs(x))) AS maxabs,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                ELSE 0.0 END AS scale,
           v
    FROM e
)
SELECT vec_id, label,
       round(maxabs, 6) AS maxabs,
       CAST(list_sum(list_transform(v, x -> CAST(trunc(x * scale) AS BIGINT)))
            AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(v, x -> abs(CAST(trunc(x * scale) AS BIGINT))))
            AS BIGINT) AS q_l1
FROM scaled
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per embedding: scale = 127/max|x|,
    q_i = trunc(x_i·scale) — the 4× memory cut an ANN serving tier
    takes before indexing.  Output is the per-vector audit row
    (maxabs + integer checksums of the quantized vector); the
    checksums are exact bigint folds so the oracle matches bit-for-bit.

    Engine note: quantized values use trunc-toward-zero explicitly —
    Spark's double→bigint CAST truncates but DuckDB's ROUNDS, so the
    oracle must trunc() before casting.  All array math is per-element
    (order-independent), never a float accumulation."""
    e = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    maxabs = F.array_max(F.transform("v", lambda x: F.abs(x)))
    scaled = e.select(
        "vec_id",
        "label",
        maxabs.alias("maxabs"),
        F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0)).alias("scale"),
        "v",
    )
    q = F.transform(
        "v", lambda x: (x * F.col("scale")).cast("bigint")
    )
    return scaled.select(
        "vec_id",
        "label",
        F.round("maxabs", 6).alias("maxabs"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, b: a + b).alias("q_sum"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda a, b: a + F.abs(b)
        ).alias("q_l1"),
    )


@register(
    "semantic_doc_retrieval",
    survey="similarity,J2 (extension: retrieval joined to doc metadata)",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
c AS (
    SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings
),
scored AS (
    SELECT query_id, cand_id,
           round(CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
                       AND sqrt(list_dot_product(cv, cv)) > 0
                      THEN list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                      ELSE 0.0 END, 6) AS cosine
    FROM q CROSS JOIN c
    WHERE query_id <> cand_id
),
topk AS (
    SELECT query_id, cand_id, cosine, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, cand_id
        ) AS rk
        FROM scored
    )
    WHERE rk <= 3
)
SELECT t.query_id, t.cand_id, t.cosine, t.rk,
       d.lang AS cand_lang, CAST(d.n_chars AS BIGINT) AS cand_n_chars
FROM topk t JOIN documents d ON t.cand_id = d.doc_id
""",
)
def semantic_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval end-to-end: ANN top-3 over the embedding table joined
    BACK to the documents table for the retrieved docs' metadata — the
    cross-modal join every RAG/serving pipeline does after the index
    lookup (embeddings.vec_id is the documents.doc_id foreign key).
    The metadata join carries only (query_id, cand_id, cosine) keys,
    never vectors, and the doc side is joined AFTER top-k so at 100 TB
    it touches k·|Q| rows, not the corpus."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    pairs = _query_panel(emb.drop("label"), 5).crossJoin(c)
    topk = topk_ranked(_exact_cosine(pairs), _BY_COSINE, 3)
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("cand_id"),
        F.col("lang").alias("cand_lang"),
        F.col("n_chars").cast("bigint").alias("cand_n_chars"),
    )
    return topk.join(docs, "cand_id").select(
        "query_id", "cand_id", "cosine", "rk", "cand_lang", "cand_n_chars"
    )


@register(
    "ann_ivf_kmeans",
    survey="similarity (extension: learned IVF coarse quantizer)",
    # rows-only: MLlib KMeans is an iterative solver with no portable
    # SQL twin; recall vs the brute-force oracle path is pinned in
    # tests/test_similarity_paths.py
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a LEARNED coarse quantizer: MLlib KMeans (k=10,
    seed=42) clusters the corpus, every vector is indexed by its
    cluster id, and each query probes its own cluster — the trained
    counterpart of `ann_ivf_topk`'s label-mean centroids, i.e. how a
    real IVF index is built when no labels exist.

    Scale shape: the fit samples/aggregates per partition (MLlib
    kmeans|| init), indexing is one model.transform projection, and
    the probe join is an equi-join on cluster id — identical cost
    profile to the label-based variant."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "embedding", array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(k=10, seed=42, maxIter=10).fit(emb.select("features"))
    indexed = model.transform(emb).select(
        "vec_id", "embedding", F.col("prediction").alias("cluster")
    )
    cand = indexed.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), "cluster"
    )
    pairs = _query_panel(indexed).join(cand, "cluster").drop("cluster")
    return topk_ranked(_exact_cosine(pairs), _BY_COSINE, _TOP_K)


@register(
    "semantic_cluster_topics",
    survey="similarity+text (extension: k-means topic clusters with purity eval)",
    # rows-only: MLlib KMeans is iterative; cluster quality is pinned
    # against the embeddings' ground-truth labels in
    # tests/test_rows_only.py (purity + partition invariants).
)
def semantic_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic topic clustering — the embedding-space counterpart of
    TF-IDF topics: MLlib KMeans (k=10, seed=42) clusters the corpus
    embeddings, each cluster is summarized by its 5 most frequent
    member tokens (count-desc, token-asc tie-break → deterministic
    given the assignment), and evaluated by label purity (majority
    ground-truth label share).

    Scale shape: the fit is MLlib kmeans|| (sampled, distributed);
    assignment is one model.transform projection; topic terms are a
    token-keyed partial aggregate + per-cluster top-k window — no
    driver loops, no all-pairs anything."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id",
        "label",
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("features"),
    )
    model = KMeans(k=10, seed=42, maxIter=10).fit(emb.select("features"))
    assigned = model.transform(emb).select(
        "vec_id", "label", F.col("prediction").alias("cluster")
    )

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    tok_counts = (
        assigned.join(docs, "vec_id")
        .groupBy("cluster", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topics = (
        topk_ranked(tok_counts, "PARTITION BY cluster ORDER BY n DESC, token ASC", 5)
        .groupBy("cluster")
        .agg(F.concat_ws(",", F.collect_list("token")).alias("top_tokens"))
    )

    label_counts = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_lab = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    purity = (
        label_counts.withColumn("rk", F.row_number().over(w_lab))
        .withColumn("size", F.sum("n").over(Window.partitionBy("cluster")))
        .filter(F.col("rk") == 1)
        .select(
            "cluster",
            F.col("size").cast("bigint").alias("size"),
            F.col("label").alias("majority_label"),
            F.round(F.col("n") / F.col("size"), 6).alias("purity"),
        )
    )
    return purity.join(topics, "cluster").select(
        F.col("cluster").cast("int").alias("cluster"),
        "size",
        "majority_label",
        "purity",
        "top_tokens",
    )


@register(
    "embedding_dim_profile",
    survey="similarity+M (extension: per-dimension feature-scaling profile)",
    oracle="""
WITH flat AS (
    SELECT CAST(unnest(range(0, len(embedding))) AS INT) AS dim_idx,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
)
SELECT dim_idx,
       CAST(count(*) AS BIGINT) AS n,
       floor(avg(x) * 1e6 + 0.5) / 1e6 AS mean,
       floor(stddev_pop(x) * 1e6 + 0.5) / 1e6 AS std,
       floor(min(x) * 1e6 + 0.5) / 1e6 AS min_x,
       floor(max(x) * 1e6 + 0.5) / 1e6 AS max_x
FROM flat
GROUP BY dim_idx
""",
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics of the embedding column — the
    feature-scaling profile (mean/std/min/max per coordinate) every
    normalization or whitening step consumes, computed by posexplode
    over the vector column into (dim_idx, value) rows and one
    partial-agg groupBy on the 64 dimension keys.

    This is the vector-column analog of `column_profile`: at 100 TB
    the explode is narrow (64 rows out per vector, no shuffle until
    the 64-key aggregate), and the profile table is what a serving
    layer broadcasts to z-scale incoming queries consistently with
    the indexed corpus.

    floor-rounding note: stddev_pop accumulates in float64 on both
    engines; the shared floor formula absorbs the sub-1e-9
    order-of-summation jitter."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    flat = emb.select(
        F.posexplode(F.col("embedding")).alias("dim_idx", "x")
    ).select("dim_idx", F.col("x").cast("double").alias("x"))

    def fr(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return flat.groupBy(F.col("dim_idx").cast("int").alias("dim_idx")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fr(F.avg("x")).alias("mean"),
        fr(F.stddev_pop("x")).alias("std"),
        fr(F.min("x")).alias("min_x"),
        fr(F.max("x")).alias("max_x"),
    )


# --- product quantization (Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search") -------------------------------------------

_PQ_M = 8          # subspaces (64-dim vectors → 8 dims per subspace)
_PQ_K = 32         # centroids per subspace (5-bit codes)
# ADC shortlist fed to the exact re-rank: max(_PQ_SHORTLIST_MIN,
# n // _PQ_SHORTLIST_DIV).  The shortlist is a recall BUDGET, not a
# constant: ADC ranks by quantized distance, and in a flat cosine
# spectrum (the decorrelated sf1i axis — true neighbors at 0.40-0.66
# against a dense random tail) the quantization error reorders freely
# within the band, so a fixed 50-row shortlist measured recall@5 =
# 0.36 at n=20k (r8 probe) while n//50 (2% of the corpus) restores
# 0.80 and keeps the exact re-rank join linear in n.
_PQ_SHORTLIST_MIN = 100
_PQ_SHORTLIST_DIV = 50


@register(
    "ann_pq_adc_topk",
    survey="similarity (extension: product quantization + asymmetric distance)",
    # rows-only: the per-subspace Lloyd training is iterative (no
    # portable SQL twin); recall vs the brute-force path is pinned in
    # tests/test_similarity_paths.py
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    each L2-normalized vector splits into M=8 subvectors, a K=16
    codebook per subspace is Lloyd-trained inside ONE applyInPandas
    group per subspace (8 groups — training parallelism is the
    subspace count, data per group is n×8 floats), every vector is
    encoded to 8 small codes (4 bits each — a 64× memory cut vs
    float32), and queries scan CODES only: per query an 8×16 table of
    exact query-subvector→centroid distances is precomputed, and the
    approximate distance is 8 array lookups folded JVM-side
    (element_at + aggregate — no float vector math at scan time).
    The ADC shortlist is then re-ranked with exact cosine.

    Scale shape: the candidate scan touches 8 bytes + a bigint per
    vector instead of 256 bytes of floats — at 100 TB that is the
    difference between an in-memory code sweep and an IO-bound float
    scan; the exact re-rank reads full vectors for only
    shortlist×|Q| rows via an equi-join on vec_id.  For normalized
    vectors L2² = 2−2·cos, so ADC ranking is cosine ranking.

    r8: the shortlist scales with the corpus — max(100, n/50) — after
    the sf1i recall probe measured 0.36 recall@5 for the fixed-50
    shortlist at n=20k (see the _PQ_SHORTLIST_MIN constant block)."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    d = len(emb.select("embedding").first()[0])
    sub_d = d // _PQ_M
    # parquet-footer count (r13: was emb.count(), a full-scan job per run)
    n_vecs = _emb_count(spark, sf_dir)
    shortlist_k = max(_PQ_SHORTLIST_MIN, n_vecs // _PQ_SHORTLIST_DIV)

    nv = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "nv",
        F.transform(
            "v",
            lambda x: x
            / F.greatest(
                F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, b: a + b * b)),
                F.lit(1e-300),
            ),
        ),
    ).select("vec_id", "nv")

    # (vec_id, m, sv): one row per subspace slice
    subvecs = nv.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda m: F.struct(
                    m.cast("int").alias("m"),
                    F.slice("nv", m * sub_d + 1, sub_d).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sv")

    # --- codebook: seeded Lloyd per subspace, one applyInPandas group each
    cb_schema = "m int, c int, centroid array<double>"

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        m = int(pdf["m"].iloc[0])
        X = np.array(list(pdf.sort_values("vec_id")["sv"]), dtype=np.float64)
        k = min(_PQ_K, len(X))
        # deterministic init: evenly spaced rows of the vec_id-sorted
        # matrix (data-dependent but seed/partitioning-independent)
        C = X[np.linspace(0, len(X) - 1, k).astype(int)].copy()
        for _ in range(10):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(k):
                pts = X[a == j]
                if len(pts):
                    C[j] = pts.mean(axis=0)
        return pd.DataFrame(
            {"m": m, "c": range(k), "centroid": [C[j].tolist() for j in range(k)]}
        )

    codebook = subvecs.groupBy("m").applyInPandas(train, schema=cb_schema)
    cb_rows = codebook.collect()  # 8×16 tiny model → driver, then broadcast
    CB = np.zeros((_PQ_M, _PQ_K, sub_d))
    for r in cb_rows:
        CB[r.m, r.c] = r.centroid
    b_cb = spark.sparkContext.broadcast(CB)

    # --- encode: nearest centroid per subspace, vectorized per batch
    def encode(batches):
        cb = b_cb.value
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": [], "codes": []})
                continue
            X = np.array(list(pdf["nv"]), dtype=np.float64)
            codes = np.empty((len(X), _PQ_M), dtype=np.int32)
            for m in range(_PQ_M):
                Xs = X[:, m * sub_d : (m + 1) * sub_d]
                d2 = ((Xs[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "codes": list(codes)}
            )

    encoded = nv.mapInPandas(encode, schema="vec_id long, codes array<int>")

    # --- query LUTs: exact query-subvector → centroid distances (driver;
    # |Q|×M×K doubles — tiny) shipped as a broadcast-joined table
    q_rows = nv.filter(F.col("vec_id") < _N_QUERIES).collect()
    luts = []
    for r in q_rows:
        qv = np.array(r.nv)
        lut = np.empty(_PQ_M * _PQ_K)
        for m in range(_PQ_M):
            qs = qv[m * sub_d : (m + 1) * sub_d]
            lut[m * _PQ_K : (m + 1) * _PQ_K] = ((CB[m] - qs[None, :]) ** 2).sum(
                axis=1
            )
        luts.append((int(r.vec_id), [float(x) for x in lut]))
    lut_df = spark.createDataFrame(luts, "query_id long, lut array<double>")

    # --- ADC scan: 8 lookups + fold per (query, candidate) — codegen
    adc = F.aggregate(
        F.zip_with(
            "codes",
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda c, i: F.element_at("lut", (i * _PQ_K + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shortlist = topk_ranked(
        encoded.crossJoin(F.broadcast(lut_df))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(adc, 6).alias("adc"),
        ),
        "PARTITION BY query_id ORDER BY adc, cand_id ASC",
        shortlist_k,
    ).select("query_id", "cand_id")

    # --- exact re-rank of the shortlist
    q = _query_panel(nv.withColumnRenamed("nv", "embedding"))
    cand = nv.select(F.col("vec_id").alias("cand_id"), F.col("nv").alias("cv"))
    pairs = shortlist.join(q, "query_id").join(cand, "cand_id")
    return topk_ranked(_exact_cosine(pairs), _BY_COSINE, _TOP_K)


@register(
    "negative_sample_pairs",
    survey="similarity (extension: deterministic hard-negative sampling)",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS q_label
    FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
    SELECT q.query_id, e.vec_id AS neg_id,
           ('0x' || substr(md5(q.query_id || '|' || e.vec_id || '|neg-seed-1'), 1, 8))::BIGINT AS h
    FROM q JOIN embeddings e ON e.label <> q.q_label
)
SELECT query_id, neg_id, CAST(rk AS INT) AS rk, h
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY h, neg_id) AS rk
    FROM scored
)
WHERE rk <= 5
""",
)
def negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    query vector gets 5 negatives drawn from the other-label pool by
    salted-hash order — a seeded uniform sample that is reproducible
    across reruns, cluster sizes, and engines (no rand(): the sample
    for a query never changes when the corpus is re-partitioned, so
    training runs are replayable; md5 makes the DuckDB oracle replay
    it exactly).

    Scale shape: the query set broadcasts (it is the tiny side by
    construction); candidates stream through a stateless hash
    projection; top-k is TWO-LEVEL — a partial rank inside
    (query, salt-bucket) first, so no task ever sorts more than one
    bucket's candidates, then the final rank over the ≤ k·buckets
    survivors.  A single window on query_id alone would funnel the
    whole corpus through #queries tasks at 100 TB; the salt level is
    what keeps every sort executor-sized.  Both levels order by
    (h, neg_id), so the composition is EXACTLY the global top-k (the
    per-bucket top-k is a superset of each bucket's contribution to
    the global one) — the oracle replays the single-level form."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("query_id").cast("string"),
                    F.col("vec_id").cast("string"),
                    F.lit("neg-seed-1"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    scored = (
        emb.select("vec_id", "label")
        .join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            h.alias("h"),
            (F.pmod(F.xxhash64("vec_id"), F.lit(32))).alias("salt"),
        )
    )
    survivors = topk_ranked(
        scored, "PARTITION BY query_id, salt ORDER BY h, neg_id", 5
    ).drop("rk", "salt")
    return topk_ranked(survivors, "PARTITION BY query_id ORDER BY h, neg_id", 5)


def _cell_partitioned_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write (once) the embeddings table hive-partitioned by the IVF
    coarse CELL — the quantizer-consistent filing (r7 fix: formerly
    partitioned by the stored label, which de-synced the layout from
    the probe arithmetic) — and read it back with directory
    discovery: the PERSISTED inverted-file layout, each cell a
    directory, so a probe that knows its cells reads only those
    directories.  Memoized per (session, sf_dir) like the other
    layout builds."""
    tag = dataset_tag(sf_dir)

    def build() -> str:
        path = scratch_dir(f"ivf_embeddings_{tag}_")
        (
            load(spark, sf_dir, "embeddings")
            .join(_ivf_cells(spark, sf_dir), "vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )
        return path

    return read_parquet_memo(
        spark, session_memo(spark, f"layout.embeddings_ivfcell.{tag}", build)
    )


@register(
    "ann_ivf_partition_pruned",
    survey="similarity,S15 (extension: IVF as persisted partition layout + DPP probe)",
    oracle=_IVF_TOPK_ORACLE,
)
def ann_ivf_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_ivf_topk` over a PERSISTED inverted file: the embedding
    table is written hive-partitioned by coarse cell, and the probe
    join against the (tiny, broadcast) query→cell assignment prunes
    cell directories at runtime via dynamic partition pruning — the
    fact scan carries a `dynamicpruningexpression` that reuses the
    broadcast, so only the probed cells' files are ever read
    (plan-pinned in tests/test_plans.py).

    Same oracle as `ann_ivf_topk` — identical search semantics; what
    changes is WHERE the cell restriction happens: a data filter after
    a full scan (logical bucketing) vs directory pruning before any
    IO (physical layout).  At 100 TB with nlist=4096 cells, a
    confident-margin query reads ~1/4096 of the index files (the
    margin-adaptive probe set, r8, stays a tiny broadcast list and
    DPP prunes to exactly the probed directories) — this is how
    a vector index actually persists on a data lake (FAISS IVF's
    inverted lists, spelled as hive partitions).  The centroid build
    and assignment reuse the original table (one posexplode
    aggregate, amortized across queries in a real serving setup).
    r7: the layout is partitioned by the QUANTIZER cell, not the
    stored label — see _ivf_oracle for the recall-probe finding."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    probes = _ivf_probe_side(spark, sf_dir, emb, min_probes=1, cap=_IVF_CAP)
    filed = _filed_candidates(_cell_partitioned_embeddings(spark, sf_dir))
    pairs = filed.join(F.broadcast(probes), "probe_label").drop("probe_label")
    return topk_ranked(_exact_cosine(pairs), _BY_COSINE, _TOP_K)


# --- deterministic Lloyd k-means (oracle-checked clustering) ----------------

_LLOYD_K = 8
_LLOYD_ITERS = 5
_EMB_DIM = 64


def _lloyd_oracle() -> str:
    """DuckDB oracle for deterministic Lloyd k-means — the fixed
    5-iteration loop UNROLLED as chained CTEs (assignment = row_number
    over (squared-distance, centroid-id); centroid update = per-(cid,
    position) avg via a cross-joined index table, re-listed in position
    order; empty clusters keep their previous centroid).  The same
    finite-iteration-replay pattern as the M13 power method and the
    PageRank listing: both engines iterate states differing only in
    aggregate summation order (~1e-15), and every output is either an
    exact integer or a single integer-ratio division rounded 6dp, so
    the value hash is stable."""
    k, iters, dim = _LLOYD_K, _LLOYD_ITERS, _EMB_DIM
    dist = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))"
    ).format(d=dim)
    steps = []
    prev = "c0"
    for t in range(1, iters + 1):
        steps.append(f"""a{t} AS (
    SELECT vec_id, v, cid FROM (
        SELECT p.vec_id, p.v, c.cid,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY {dist}, c.cid
               ) AS rn
        FROM pts p, {prev} c
    ) WHERE rn = 1
),
m{t} AS (
    SELECT a.cid, t.i, avg(a.v[t.i]) AS mu
    FROM a{t} a, range(1, {dim} + 1) t(i)
    GROUP BY a.cid, t.i
),
n{t} AS (
    SELECT cid, list(mu ORDER BY i) AS cv FROM m{t} GROUP BY cid
),
c{t} AS (
    SELECT c.cid, coalesce(n.cv, c.cv) AS cv
    FROM {prev} c LEFT JOIN n{t} n ON c.cid = n.cid
)""")
        prev = f"c{t}"
    chain = ",\n".join(steps)
    return f"""
WITH pts AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v
    FROM embeddings
),
c0 AS (
    SELECT vec_id AS cid, v AS cv FROM pts WHERE vec_id < {k}
),
{chain},
final AS (
    SELECT vec_id, label, cid FROM (
        SELECT p.vec_id, p.label, c.cid,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY {dist}, c.cid
               ) AS rn
        FROM pts p, {prev} c
    ) WHERE rn = 1
),
lab AS (
    SELECT cid, label, count(*) AS cnt FROM final GROUP BY cid, label
),
maj AS (
    SELECT cid, label AS majority_label, cnt AS majority_cnt FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cid ORDER BY cnt DESC, label
        ) AS rn FROM lab
    ) WHERE rn = 1
),
sz AS (
    SELECT cid, count(*) AS n_members FROM final GROUP BY cid
)
SELECT s.cid AS cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(m.majority_label AS BIGINT) AS majority_label,
       floor(m.majority_cnt::DOUBLE / s.n_members * 1e6 + 0.5) / 1e6 AS purity
FROM sz s JOIN maj m ON s.cid = m.cid
"""


@register(
    "kmeans_lloyd_deterministic",
    survey="similarity+ML (extension: oracle-checked deterministic Lloyd k-means)",
    oracle=_lloyd_oracle(),
)
def kmeans_lloyd_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed Lloyd k-means over the corpus
    embeddings — the oracle-CHECKED counterpart of the MLlib kmeans||
    twin (`semantic_cluster_topics`, whose sampled init is not
    engine-replayable): init = the embeddings of the k smallest
    vec_ids, exactly `_LLOYD_ITERS` assignment/update rounds,
    assignment argmin broken by centroid id, empty clusters keeping
    their previous centroid.  Output: per-cluster size, majority
    ground-truth label, and purity.

    Scale shape: each round is one broadcast of the k×d centroid frame
    into a crossJoin (k rows — a model, not data), one argmin via
    min(struct(dist, cid)) with map-side partial aggregation, and one
    per-(cid, position) avg (posexplode — the element-wise mean as a
    key-local aggregate, no driver math); `localCheckpoint` truncates
    the lineage per round exactly like the PageRank/connected-
    components loops.  The DuckDB oracle replays the identical finite
    iteration (see _lloyd_oracle)."""
    from ..functions.core import round_stable

    pts = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    pts = tracked_persist(pts, "kmeans_lloyd.pts")

    dist = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def assign(cent: DataFrame) -> DataFrame:
        scored = pts.crossJoin(F.broadcast(cent)).select(
            "vec_id", "label", "v", "cid", dist.alias("dist")
        )
        # argmin with (dist, cid) tie-break: lexicographic struct min
        return (
            scored.groupBy("vec_id")
            .agg(
                F.min(F.struct("dist", "cid")).alias("best"),
                F.first("label").alias("label"),
                F.first("v").alias("v"),
            )
            .select("vec_id", "label", "v", F.col("best.cid").alias("cid"))
        )

    cent = pts.filter(F.col("vec_id") < _LLOYD_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(_LLOYD_ITERS):
        a = assign(cent)
        means = (
            a.select("cid", F.posexplode("v").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.avg("x").alias("mu"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "mu"))),
                    lambda s: s["mu"],
                ).alias("cv_new")
            )
        )
        cent = (
            cent.join(means, "cid", "left")
            .select("cid", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint()
        )

    final = assign(cent)
    lab = final.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("cnt"))
    maj = topk_ranked(lab, "PARTITION BY cid ORDER BY cnt DESC, label ASC", 1).select(
        "cid", F.col("label").alias("majority_label"), F.col("cnt").alias("majority_cnt")
    )
    sz = final.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return sz.join(maj, "cid").select(
        F.col("cid").alias("cluster_id"),
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("majority_label").cast("bigint").alias("majority_label"),
        round_stable(
            F.col("majority_cnt").cast("double") / F.col("n_members").cast("double"), 6
        ).alias("purity"),
    )


@register(
    "mutual_nn_pairs",
    survey="similarity (extension: reciprocal best match / mutual nearest neighbors)",
    oracle="""
WITH v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
),
cand AS (
    SELECT a.vec_id AS k, b.vec_id AS nb,
           round(CASE WHEN sqrt(list_dot_product(a.ev, a.ev)) > 0
                       AND sqrt(list_dot_product(b.ev, b.ev)) > 0
                      THEN list_dot_product(a.ev, b.ev)
                           / (sqrt(list_dot_product(a.ev, a.ev))
                              * sqrt(list_dot_product(b.ev, b.ev)))
                      ELSE 0.0 END, 6) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
),
rk AS (
    SELECT k, nb, cosine,
           row_number() OVER (PARTITION BY k ORDER BY cosine DESC, nb) AS rn
    FROM cand
),
nn AS (SELECT k, nb, cosine FROM rk WHERE rn = 1)
SELECT x.k AS vec_id_a, x.nb AS vec_id_b, x.cosine AS cosine
FROM nn x JOIN nn y ON x.nb = y.k AND y.nb = x.k
WHERE x.k < x.nb
""",
)
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best matches: pairs (a, b) where b is a's single
    nearest neighbour by cosine AND a is b's — the standard
    high-precision pairing rule for entity alignment / bitext mining
    / canonical-duplicate selection (mutual-NN filters out hub
    vectors that are "everyone's neighbour" but reciprocate nothing).

    Candidates are blocked by the cluster label (the SemDeDup
    blocking contract: near-duplicates share a cluster), so the
    pair enumeration is a label equi-join — per-block quadratic,
    never corpus-quadratic; with learned clusters the same plan runs
    off `semantic_cluster_topics`' kmeans assignment.  Ranking uses
    the 6dp-rounded cosine + id tie-break (established
    engine-deterministic contract from ann_topk_bruteforce), and the
    mutuality check is a self-join of the per-key argmin — two hash
    joins, no second distance pass (cosine(a,b) == cosine(b,a)).
    """
    v = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", "embedding"
    )
    a = v.select(
        F.col("vec_id").alias("k"),
        F.col("label").alias("la"),
        F.col("embedding").alias("av"),
    )
    b = v.select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("bv"),
    )
    cand = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("k") != F.col("nb")))
        .select(
            "k",
            "nb",
            F.round(F.expr(cosine_similarity_sql("av", "bv")), 6).alias("cosine"),
        )
    )
    # Persisted (r13, guide §2.4): the mutuality check self-joins this
    # frame, and without materialization BOTH join branches re-run the
    # per-block quadratic cosine pass + argmax window — the expensive
    # candidate stage executed twice per invocation.  nn is one row
    # per vector (tiny).
    nn = tracked_persist(
        topk_ranked(cand, "PARTITION BY k ORDER BY cosine DESC, nb ASC", 1).select(
            "k", "nb", "cosine"
        ),
        "mutual_nn_pairs.nn",
    )
    other = nn.select(F.col("k").alias("yk"), F.col("nb").alias("ynb"))
    return (
        nn.join(
            other,
            (F.col("nb") == F.col("yk")) & (F.col("ynb") == F.col("k")),
        )
        .filter(F.col("k") < F.col("nb"))
        .select(
            F.col("k").alias("vec_id_a"),
            F.col("nb").alias("vec_id_b"),
            "cosine",
        )
    )


@register(
    "rag_context_assembly",
    survey="similarity,J2,W4 (extension: retrieval -> budgeted context packing)",
    oracle="""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 3
),
c AS (
    SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings
),
scored AS (
    SELECT query_id, cand_id,
           CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
                 AND sqrt(list_dot_product(cv, cv)) > 0
                THEN list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                ELSE 0.0 END AS cosine
    FROM q CROSS JOIN c
    WHERE query_id <> cand_id
),
topk AS (
    SELECT query_id, cand_id, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, cand_id
        ) AS rk
        FROM scored
    ) WHERE rk <= 5
),
sized AS (
    SELECT t.query_id, t.cand_id, CAST(t.rk AS INT) AS rk,
           CAST(d.n_chars AS BIGINT) AS cand_chars,
           CAST(sum(d.n_chars) OVER (
               PARTITION BY t.query_id ORDER BY t.rk
           ) AS BIGINT) AS cum_chars
    FROM topk t JOIN documents d ON t.cand_id = d.doc_id
)
SELECT query_id, rk, cand_id, cand_chars, cum_chars
FROM sized WHERE cum_chars <= 2500
""",
)
def rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval half of a RAG pipeline end-to-end: for each query
    vector, rank the corpus by cosine, keep the top-5, join back to
    document metadata, and PACK the context prefix-greedily under a
    2500-char budget (docs enter in rank order until the running total
    would overflow) — exactly what a serving layer does between the
    ANN lookup and the prompt template.

    The raw cosine is the ORDER BY key on both engines (both fold the
    dot product sequentially over the same array, so the doubles are
    bit-identical) but is DROPPED from the output; everything emitted
    is integer.  Scale shape: top-k before any metadata join (the doc
    join touches k·|Q| rows), and the packing is a k-row running sum
    per query — at 100 TB the corpus is touched once by the scorer,
    which in production is the IVF/LSH-blocked path
    (`ann_ivf_topk`); brute-force scoring here keeps the oracle exact.
    """

    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    scored = (
        _query_panel(emb.drop("label"), 3)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id", "cand_id", F.expr(cosine_similarity_sql("qv", "cv")).alias("cosine")
        )
    )
    topk = topk_ranked(scored, _BY_COSINE, 5).select("query_id", "cand_id", "rk")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("cand_id"), F.col("n_chars").cast("bigint").alias("cand_chars")
    )
    wp = Window.partitionBy("query_id").orderBy("rk")
    return (
        topk.join(docs, "cand_id")
        .withColumn("cum_chars", F.sum("cand_chars").over(wp).cast("bigint"))
        .filter(F.col("cum_chars") <= 2500)
        .select("query_id", "rk", "cand_id", "cand_chars", "cum_chars")
    )


_DRIFT_Q = 1_000_000  # global quantization scale (|x| < 1 in the corpus)


@register(
    "embedding_drift_by_label",
    survey="similarity (extension: per-label embedding drift monitor — centroid cosine + dispersion from exact integer moments)",
    oracle=rf"""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (
    SELECT label,
           unnest(range(1, 65)) AS i,
           unnest(list_transform(v, x -> CAST(trunc(x * {_DRIFT_Q}) AS BIGINT))) AS qv
    FROM e
),
dim AS (
    SELECT label, i,
           CAST(sum(qv) AS BIGINT) AS s,
           sum(qv::HUGEINT * qv) AS ssq
    FROM q GROUP BY label, i
),
gdim AS (SELECT i, CAST(sum(s) AS BIGINT) AS g FROM dim GROUP BY i),
n AS (SELECT label, count(*) AS n_vectors FROM e GROUP BY label),
mo AS (
    SELECT d.label,
           sum(d.s::HUGEINT * g.g) AS sg,
           sum(d.s::HUGEINT * d.s) AS ss,
           sum(d.ssq) AS ssq
    FROM dim d JOIN gdim g ON d.i = g.i GROUP BY d.label
),
gn AS (SELECT sum(g::HUGEINT * g) AS gg FROM gdim)
SELECT n.label,
       CAST(n.n_vectors AS BIGINT) AS n_vectors,
       floor(CAST(mo.sg AS DOUBLE)
             / nullif(sqrt(CAST(mo.ss AS DOUBLE)) * sqrt(CAST(gn.gg AS DOUBLE)), 0)
             * 1e6 + 0.5) / 1e6 AS cos_to_global,
       floor((n.n_vectors * CAST(mo.ssq AS DOUBLE) - CAST(mo.ss AS DOUBLE))
             / (CAST(n.n_vectors AS DOUBLE) * n.n_vectors)
             / {_DRIFT_Q}.0 / {_DRIFT_Q}.0 * 1e6 + 0.5) / 1e6 AS dispersion
FROM n JOIN mo ON n.label = mo.label, gn
""",
)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor at the label (segment) grain: each
    label's centroid cosine against the GLOBAL corpus centroid, plus
    within-label dispersion (mean squared distance to own centroid) —
    the two numbers a training-data pipeline tracks to catch a source
    whose embedding distribution is sliding away from the corpus.

    Parity design: embeddings are quantized ONCE at a fixed global
    scale (trunc(x·1e6) — Spark's double→bigint cast truncates,
    DuckDB's rounds, so the oracle truncs explicitly), after which
    every moment is an exact integer: per-(label, dim) sums and
    square sums, the global per-dim sums, and the centroid cross
    products in a 128-bit carrier (S·G terms reach ~4e19).  The 1/n
    factors cancel inside the cosine; dispersion uses the exact
    n·Σ||v||² − ||Σv||² identity.  The ONLY floats are the final
    sqrt/divisions of identically-converted exact integers.

    Scale shape: one narrow posexplode to the (label, dim) grain
    (64 rows per label after the map-side-combined aggregate), a
    64-row broadcast of the global dimension sums, and label-grain
    folds — the corpus is touched exactly once, and nothing wider
    than (label, dim) ever shuffles."""
    e = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    qv = F.transform("v", lambda x: (x * _DRIFT_Q).cast("bigint"))
    q = e.select("label", F.posexplode(qv).alias("i", "q"))
    dim = q.groupBy("label", "i").agg(
        F.sum("q").alias("s"),
        # 128-bit carrier: Σq² per (label, dim) passes int64 at extreme
        # label cardinalities while DuckDB promotes to int128 — the
        # lift_ppm overflow-divergence class, closed up front
        F.sum(
            F.col("q").cast("decimal(38,0)") * F.col("q").cast("decimal(38,0)")
        ).alias("ssq"),
    )
    from ..functions.core import round_stable

    dim = tracked_persist(dim, "embedding_drift_by_label.dim")
    gdim = dim.groupBy("i").agg(F.sum("s").alias("g"))
    n = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mo = (
        dim.join(F.broadcast(gdim), "i")
        .groupBy("label")
        .agg(
            F.sum(dec("s") * dec("g")).alias("sg"),
            F.sum(dec("s") * dec("s")).alias("ss"),
            F.sum(dec("ssq")).alias("ssq"),
        )
    )
    gn = gdim.agg(F.sum(dec("g") * dec("g")).alias("gg"))
    nv = F.col("n_vectors").cast("double")
    denom = F.sqrt(F.col("ss").cast("double")) * F.sqrt(F.col("gg").cast("double"))
    return (
        n.join(mo, "label")
        .crossJoin(F.broadcast(gn))  # 1-row global-norm attach
        .select(
            "label",
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            round_stable(
                F.when(denom != 0.0, F.col("sg").cast("double") / denom), 6
            ).alias("cos_to_global"),
            round_stable(
                (nv * F.col("ssq").cast("double") - F.col("ss").cast("double"))
                / (nv * nv)
                / float(_DRIFT_Q)
                / float(_DRIFT_Q),
                6,
            ).alias("dispersion"),
        )
    )


# --- retrieval-quality evaluation as an engine query -------------------------


def _rank_metrics_oracle() -> str:
    """Composes the ann_ivf_topk and ann_topk_bruteforce oracles (the
    curation_decision_gate pattern: the eval oracle is built FROM the
    component oracles, so the metric and the retrieval it grades can
    never drift apart)."""
    from .registry import REGISTRY

    got = REGISTRY["ann_ivf_topk"].oracle
    truth = REGISTRY["ann_topk_bruteforce"].oracle
    return f"""
WITH got AS ({got}),
truth AS ({truth}),
j AS (
    SELECT g.query_id, g.rk,
           CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM got g
    LEFT JOIN truth t
      ON t.query_id = g.query_id AND t.cand_id = g.cand_id
),
c AS (
    SELECT query_id, rk, hit,
           sum(hit) OVER (
               PARTITION BY query_id ORDER BY rk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM j
)
SELECT query_id,
       CAST(sum(hit) AS BIGINT) AS hits_at_k,
       floor(sum(hit) / {_TOP_K}.0 * 1e6 + 0.5) / 1e6 AS recall_at_k,
       floor(max(CASE WHEN hit = 1 THEN 1.0 / rk ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS mrr,
       floor(sum(CASE WHEN hit = 1 THEN CAST(cum AS DOUBLE) / rk ELSE 0.0 END)
             / {_TOP_K}.0 * 1e6 + 0.5) / 1e6 AS ap_at_k
FROM c
GROUP BY query_id
"""


@register(
    "retrieval_eval_rank_metrics",
    survey="similarity (extension: retrieval-quality eval as a query)",
    bench=True,
    oracle=_rank_metrics_oracle(),
)
def retrieval_eval_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query rank metrics of the ANN index vs exact truth —
    recall@k, MRR, and AP@k of `ann_ivf_topk` graded against
    `ann_topk_bruteforce` — as a first-class engine query, not an
    offline script: the r7/r8 recall incidents (label-filed IVF at
    0.30, fixed-probe decay to 0.40 on decorrelated data) both showed
    wall-clock dashboards reward exactly the failure mode that
    destroys retrieval quality, so the quality metric must ship in
    the same plan language as the index it grades.

    All three metrics are RATIONAL arithmetic on small integers
    (hits/k, 1/rank, cumulative-precision sums — denominators divide
    lcm(1..5)·5, which never lands on a 6dp rounding boundary), so no
    transcendental cross-engine hazard; NDCG's log2 discount is
    deliberately avoided.  Truth here is the exact top-k over the
    same corpus (brute force is cheap at eval-sample size even at
    100 TB: the eval set is a fixed tiny query panel)."""
    got = ann_ivf_topk(spark, sf_dir)
    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    # truth is panel×k rows by construction (10 queries × top-5), so the
    # hit-join must never plan as a shuffle: broadcast the bounded side
    # single-parse metric expressions (r13, guide §5/§7.3) — identical
    # arithmetic to the former Column chains (6dp floor-round, double
    # literals, int-1 hit comparisons)
    j = (
        got.select("query_id", "cand_id", "rk")
        .join(F.broadcast(truth), ["query_id", "cand_id"], "left")
        .withColumn("hit", F.expr("coalesce(hit, 0)"))
    )
    c = j.selectExpr(
        "*",
        "sum(hit) OVER (PARTITION BY query_id ORDER BY rk ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
    )
    k = f"{float(_TOP_K)!r}D"
    flr = lambda s: f"floor(({s}) * 1000000.0D + 0.5D) / 1000000.0D"  # noqa: E731
    return c.groupBy("query_id").agg(
        F.expr("CAST(sum(hit) AS BIGINT)").alias("hits_at_k"),
        F.expr(flr(f"sum(hit) / {k}")).alias("recall_at_k"),
        F.expr(
            flr("max(CASE WHEN hit = 1 THEN 1.0D / rk ELSE 0.0D END)")
        ).alias("mrr"),
        F.expr(
            flr(
                "sum(CASE WHEN hit = 1 THEN CAST(cum AS DOUBLE) / rk "
                f"ELSE 0.0D END) / {k}"
            )
        ).alias("ap_at_k"),
    )


# --- IVF cell-balance maintenance stats --------------------------------------


_IVF_CELL_STATS_ORACLE = f"""
WITH {_IVF_CELLS_SQL.strip()},
g AS (
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
    FROM v_cell
    GROUP BY cell
)
SELECT cell, n_vecs,
       floor(CAST(n_vecs AS DOUBLE) / sum(n_vecs) OVER () * 1e6 + 0.5) / 1e6
           AS share,
       (n_vecs * count(*) OVER ()) > (2 * sum(n_vecs) OVER ()) AS oversized
FROM g
"""


@register(
    "ivf_cell_balance_stats",
    survey="similarity,S15 (extension: vector-index maintenance stats)",
    oracle=_IVF_CELL_STATS_ORACLE,
)
def ivf_cell_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy of the IVF inverted file with an `oversized`
    maintenance flag (cell holds > 2× the mean non-empty-cell load) —
    the vector-index analog of `bloom_rebuild_decision`: at 100 TB the
    inverted file is a persisted layout (see
    `ann_ivf_partition_pruned`), and a skewed cell quietly turns its
    probes into near-full scans, so the rebalance signal must be a
    cheap metadata query over the filing, not a wall-clock symptom.
    Counts are exact integers; the flag compares integer products
    (n·cells > 2·total), so no float threshold crosses engines."""
    cells = _ivf_cells(spark, sf_dir)
    g = cells.groupBy("cell").agg(F.expr("CAST(count(1) AS BIGINT)").alias("n_vecs"))
    return g.selectExpr(
        "cell",
        "n_vecs",
        "floor(CAST(n_vecs AS DOUBLE) / sum(n_vecs) OVER () * 1000000.0D + 0.5D)"
        " / 1000000.0D AS share",
        "(n_vecs * count(1) OVER ()) > (2 * sum(n_vecs) OVER ()) AS oversized",
    )


# --- quantizer-aware hard-negative mining ------------------------------------


_HARD_NEG_MAX_COS = 0.3


_HARD_NEG_ORACLE = f"""
WITH {_IVF_CELLS_SQL.strip()},
assign AS (
    SELECT vec_id AS query_id, label AS probe_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, label
        ) AS rk
        FROM v_cent
    )
    WHERE rk <= 1 AND vec_id < {_N_QUERIES}
),
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
    SELECT q.query_id, e.vec_id AS neg_id,
           round(CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) > 0
                       AND sqrt(list_dot_product(e.cv, e.cv)) > 0
                      THEN list_dot_product(q.qv, e.cv)
                           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.cv, e.cv)))
                      ELSE 0.0 END, 6) AS cosine
    FROM assign a
    JOIN q ON a.query_id = q.query_id
    JOIN (SELECT em.vec_id, vc.cell, em.embedding::DOUBLE[] AS cv
          FROM embeddings em JOIN v_cell vc ON vc.vec_id = em.vec_id) e
      ON e.cell = a.probe_label AND e.vec_id <> q.query_id
)
SELECT query_id, neg_id, cosine, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neg_id
    ) AS rk
    FROM scored
    WHERE cosine < {_HARD_NEG_MAX_COS}
)
WHERE rk <= {_TOP_K}
"""


@register(
    "hard_negative_mining_cells",
    survey="similarity (extension: quantizer-aware hard negatives)",
    oracle=_HARD_NEG_ORACLE,
)
def hard_negative_mining_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-aware hard-negative mining for contrastive training:
    each query's negatives are drawn from its OWN top coarse cell —
    vectors the index considers same-neighborhood — but capped at
    cosine < 0.3 so no true neighbor leaks into the negative set, and
    ranked hardest-first (highest sub-threshold cosine).  Complements
    `negative_sample_pairs` (label-based, hash-randomized): cell-mined
    negatives are the ones a trained retriever actually confuses,
    which is what makes them hard.

    Scale shape: identical to the IVF probe — a broadcastable
    (query_id, cell) list against the cell-filed corpus, so mining
    cost per query is one cell, not the corpus.  The threshold
    compares the same 6dp-rounded cosine both engines rank by."""
    scored = _exact_cosine(_ivf_pairs(spark, sf_dir, min_probes=1, cap=1))
    below = scored.filter(F.col("cosine") < F.lit(_HARD_NEG_MAX_COS))
    return topk_ranked(below, _BY_COSINE, _TOP_K).withColumnRenamed(
        "cand_id", "neg_id"
    )


# --- adaptive-probe cost accounting -------------------------------------------


_IVF_PROBE_COST_ORACLE = f"""
WITH {_IVF_CELLS_SQL.strip()},
assign AS (
    SELECT vec_id AS query_id, label AS probe_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, label
        ) AS rk,
        max(cosine) OVER (PARTITION BY vec_id) AS best
        FROM v_cent
    )
    WHERE vec_id < {_N_QUERIES}
      AND (rk <= 1
           OR (rk <= {_IVF_CAP} AND cosine >= best - {_IVF_DELTA}))
),
cell_sizes AS (
    SELECT cell, CAST(count(*) AS BIGINT) AS n
    FROM v_cell
    GROUP BY cell
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM v_cell)
SELECT a.query_id,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(s.n) AS BIGINT) AS candidates_scanned,
       floor(CAST(sum(s.n) AS DOUBLE) / max(t.n_total) * 1e6 + 0.5) / 1e6
           AS scan_fraction
FROM assign a
JOIN cell_sizes s ON s.cell = a.probe_label
CROSS JOIN tot t
GROUP BY a.query_id
"""


@register(
    "ivf_probe_cost_profile",
    survey="similarity (extension: adaptive-probe cost accounting)",
    oracle=_IVF_PROBE_COST_ORACLE,
)
def ivf_probe_cost_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query COST of the margin-adaptive IVF probe
    (`ann_ivf_topk`'s rule: min 1, cap _IVF_CAP, delta _IVF_DELTA):
    how many cells the query escalated to, how many filed candidates
    those cells hold, and the resulting corpus scan fraction — the
    other half of the recall/cost trade-off
    `retrieval_eval_rank_metrics` grades.  Together the two queries
    make the adaptive rule auditable in-engine: recall without cost
    rewards probe-everything, cost without recall rewards the r7
    failure mode (read fewer cells, get faster, decay silently).

    Scale shape: pure metadata — the probe list is O(queries·cap)
    rows and cell sizes are one groupBy over the filing; no vector
    arithmetic is touched."""
    assign = _ivf_probe_assign(spark, sf_dir, min_probes=1, cap=_IVF_CAP)
    cells = _ivf_cells(spark, sf_dir)
    sizes = cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cells.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    flr = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        assign.join(sizes, assign.probe_label == sizes.cell)
        .crossJoin(F.broadcast(tot))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum("n").cast("bigint").alias("candidates_scanned"),
            flr(
                F.sum("n").cast("double") / F.max("n_total")
            ).alias("scan_fraction"),
        )
    )


# --- IVF cell rebalance action ------------------------------------------------

# Refile admission: cells above 110% of the mean load (integer-exact:
# n·ncells·10 > 11·total).  This SUPERSETS ivf_cell_balance_stats'
# `oversized` alarm (2× mean) — every alarmed cell is refiled, so the
# alarm finally has a consumer — while also sweeping steady-state
# imbalance the way a compaction pass does, instead of waiting for a
# 2× emergency (fixture corpora are well-balanced: max cell load is
# 1.15–1.28× mean across SFs, so a 2×-only action would be a
# perpetual no-op on every driver run and its split path would ship
# unexercised).  The invariant "alarmed ⊆ refiled" is pinned in
# tests/test_similarity_paths.py.
_REFILE_NUM = 11

# The refile's algorithm as a CTE body over WHICHEVER filing precedes
# it: `_IVF_CELLS_SQL` (the standing full-corpus quantizer —
# `ivf_refile_oversized`, the balance-stats consumer) or
# `_IVF_DELTA_CELLS_SQL` (the frozen-quantizer post-append filing —
# `ivf_append_refile`, the append's oversized_after consumer).  Both
# blocks define cent_flat/v_flat/v_cent/v_cell with identical columns,
# so the action is literally the same SQL over either signal.
# r12: the ADMISSION CTE is a parameter (default: the 110% rule) so
# the maintenance executor can run the IDENTICAL split SQL over the
# decision's refile set — the constant below stays byte-identical to
# its r10/r11 form.
def _ivf_refile_body_sql(admission: str) -> str:
    return f"""own AS (
    SELECT c.vec_id, c.cell, v.cosine
    FROM v_cell c JOIN v_cent v ON v.vec_id = c.vec_id AND v.label = c.cell
),
sizes AS (
    SELECT cell, CAST(count(*) AS BIGINT) AS n_c FROM v_cell GROUP BY cell
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS total,
           CAST(count(DISTINCT cell) AS BIGINT) AS ncells
    FROM v_cell
),
refile AS (
    {admission}
),
halves AS (
    SELECT o.vec_id, o.cell,
           CASE WHEN 2 * row_number() OVER (
                    PARTITION BY o.cell ORDER BY o.cosine DESC, o.vec_id
                ) <= s.n_c THEN 0 ELSE 1 END AS half
    FROM own o
    JOIN refile r ON r.cell = o.cell
    JOIN sizes s ON s.cell = o.cell
),
sub_cent AS (
    SELECT h.cell, h.half, f.i, avg(f.x) AS cx
    FROM halves h JOIN v_flat f ON f.vec_id = h.vec_id
    GROUP BY h.cell, h.half, f.i
),
resc AS (
    SELECT h.vec_id, h.cell, sc.half,
           round(CASE WHEN sqrt(sum(f.x * f.x)) > 0
                       AND sqrt(sum(sc.cx * sc.cx)) > 0
                      THEN sum(f.x * sc.cx)
                           / (sqrt(sum(f.x * f.x)) * sqrt(sum(sc.cx * sc.cx)))
                      ELSE 0.0 END, 6) AS cosine
    FROM (SELECT DISTINCT vec_id, cell FROM halves) h
    JOIN v_flat f ON f.vec_id = h.vec_id
    JOIN sub_cent sc ON sc.cell = h.cell AND sc.i = f.i
    GROUP BY h.vec_id, h.cell, sc.half
),
refiled AS (
    SELECT vec_id, cell * 10 + 1 + half AS new_cell,
           cell AS parent_cell, TRUE AS was_split
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, half
        ) AS rk
        FROM resc
    )
    WHERE rk = 1
),
kept AS (
    SELECT c.vec_id, c.cell * 10 AS new_cell,
           c.cell AS parent_cell, FALSE AS was_split
    FROM v_cell c
    WHERE c.cell NOT IN (SELECT cell FROM refile)
),
final AS (SELECT * FROM refiled UNION ALL SELECT * FROM kept),
g AS (
    SELECT CAST(new_cell AS BIGINT) AS new_cell,
           CAST(parent_cell AS BIGINT) AS parent_cell, was_split,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM final GROUP BY 1, 2, 3
)
SELECT new_cell, parent_cell, was_split, n_vecs,
       floor(CAST(n_vecs AS DOUBLE) / sum(n_vecs) OVER () * 1e6 + 0.5) / 1e6
           AS share,
       (n_vecs * count(*) OVER ()) > (2 * sum(n_vecs) OVER ()) AS oversized
FROM g
"""


_IVF_REFILE_ADMISSION_110 = f"""SELECT s.cell FROM sizes s, tot t
    WHERE s.n_c * t.ncells * 10 > {_REFILE_NUM} * t.total"""

_IVF_REFILE_BODY_SQL = _ivf_refile_body_sql(_IVF_REFILE_ADMISSION_110)

_IVF_REFILE_ORACLE = f"""
WITH {_IVF_CELLS_SQL.strip()},
{_IVF_REFILE_BODY_SQL}"""


@register(
    "ivf_refile_oversized",
    survey="similarity,S15 (extension: vector-index rebalance action)",
    oracle=_IVF_REFILE_ORACLE,
    # bench headliner since r10: at 3.28 s sf0.1 (SCALE.md) it is the
    # most expensive maintenance op in the repo and its 51-join plan
    # is exactly what the bench + PLANS.md pin discipline exists for.
    bench=True,
)
def ivf_refile_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance action for the IVF inverted file — the consumer of
    `ivf_cell_balance_stats`' `oversized` flag, closing the same
    maintenance loop the Bloom index has (`bloom_rebuild_decision` →
    rebuild, layout.py): flag → refile, with the post-refile balance
    stats as the checked output.

    Every cell above the 110% maintenance capacity (a SUPERSET of the
    2× alarm — see _REFILE_NUM) is split FAISS-style: members ranked
    by cosine to the parent centroid (6dp, vec_id tie-break), the
    closer half seeds sub-centroid 0 and the farther half sub-centroid
    1 (per-dim means — the same arithmetic class as the coarse
    quantizer itself), then every member of the split cell is REFILED
    to its nearest sub-centroid — one deterministic Lloyd step with
    rank-split initialization, the same filing discipline as
    `_ivf_cells` (argmax cosine, 6dp, sub-cell-asc tie-break).
    Unsplit cells pass through.  New cell ids live in a ×10 id space
    (parent·10 for unsplit, parent·10+1+half for split halves) so
    parents remain recoverable and ids never collide.

    Output = per-NEW-cell balance stats (n_vecs, share, oversized —
    the exact `ivf_cell_balance_stats` definitions) plus the
    parent/was_split lineage, so the refile's effect is auditable in
    the same table language as the signal that triggered it.

    Recall is INVARIANT by construction, not by measurement: refiling
    only redistributes a parent's members between its own two
    sub-cells (a partition refinement — pinned in
    tests/test_similarity_paths.py), so a prober that scans the union
    of a split parent's children reads exactly the pre-split candidate
    set.  Scale shape: the refile set is O(flagged cells)
    (broadcastable), the split arithmetic touches only flagged-cell
    members (one explode → broadcast sub-centroid join → map-side
    aggregate), and the stats grain is O(cells) — nothing here scans
    the unflagged corpus beyond the filing already persisted by
    `_ivf_cells`."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    return _refile_oversized_impl(
        emb,
        _ivf_cells(spark, sf_dir),
        _ivf_quantizer(spark, sf_dir).select(F.col("label").alias("cell"), "i", "cx"),
        "ivf_refile",
    )


def _refile_oversized_impl(
    emb: DataFrame,
    cells: DataFrame,
    cent_own: DataFrame,
    tag: str,
    admission: DataFrame | None = None,
) -> DataFrame:
    """The refile ACTION parameterized on its input filing + quantizer
    — shared verbatim (like its oracle body, `_IVF_REFILE_BODY_SQL`)
    by `ivf_refile_oversized` (standing full-corpus filing, the
    balance-stats consumer) and `ivf_append_refile` (frozen-quantizer
    post-append filing, the append's oversized_after consumer).
    r12: `admission` optionally overrides the 110% rule with an
    explicit cell set — `ivf_maintenance_execute` passes the
    decision's refile cells so the executor splits EXACTLY what the
    decision said (same parameterization as the SQL twin,
    `_ivf_refile_body_sql`)."""
    # Admission totals from ONE pass over the filing: total = Σ n_c and
    # ncells = row count of the per-cell sizes, via a single-partition
    # window over the O(cells) frame — r13 (guide §2.4): the old shape
    # re-scanned `cells` a second time for a global agg and broadcast it
    # back through a crossJoin (two jobs per run for numbers the sizes
    # frame already contains).  Built as single-parse expressions
    # (guide §5/§7.3) — identical arithmetic to the former Column chain.
    refile = (
        cells.groupBy("cell")
        .agg(F.expr("CAST(count(1) AS BIGINT)").alias("n_c"))
        .selectExpr(
            "*",
            "sum(n_c) OVER () AS total",
            "count(1) OVER () AS ncells",
        )
        .filter(f"n_c * ncells * 10 > {_REFILE_NUM} * total")
        .select("cell")
        if admission is None
        else admission.select("cell")
    )
    v_flat = emb.selectExpr(
        "vec_id", "posexplode(embedding) AS (i, x)"
    ).withColumn("x", F.expr("CAST(x AS DOUBLE)"))
    # The split arithmetic touches flagged-cell members ONLY, and their
    # exploded dims are materialized ONCE: mem_flat = filing ⋈ refile ⋈
    # v_flat, persisted (flagged-members × dim — bounded by the flagged
    # set, never the corpus), then read three times (own-cosine rank,
    # sub-centroid means, refile rescoring).  Pre-r10 this rescored the
    # WHOLE corpus against the FULL quantizer and filtered to
    # label==cell, and every downstream branch re-exploded the corpus
    # from parquet — n·nlist pair-aggregates plus 3 corpus scans to
    # keep |flagged members| rows (bench headliner: see PLANS.md pin +
    # BENCH ledger).  The quantizer itself is the persisted session
    # codebook (passed in as cent_own).
    mem_flat = tracked_persist(
        cells.join(F.broadcast(refile), "cell").join(v_flat, "vec_id"),
        f"{tag}.mem_flat",
    )
    own = (
        mem_flat.join(F.broadcast(cent_own), ["cell", "i"])
        .groupBy("vec_id", "cell")
        .agg(_cosine_agg("x", "cx").alias("cosine"))
    )
    # n_c for the rank-split comes from a count window over the same
    # cell partitioning the rank window already establishes — no
    # broadcast re-join of the sizes frame (r13, guide §2.4; `own`
    # holds EVERY member of each flagged cell, so the window count
    # equals the filing's per-cell size by construction).
    halves = own.selectExpr(
        "vec_id",
        "cell",
        "CASE WHEN 2 * row_number() OVER "
        "(PARTITION BY cell ORDER BY cosine DESC, vec_id ASC) "
        "<= count(1) OVER (PARTITION BY cell) THEN 0 ELSE 1 END AS half",
    )
    # Sub-centroid means: tag each member-dim with its rank-half via a
    # BROADCAST of the one-row-per-member halves frame (r13, guide
    # §2.4/§3.1 — the former halves⋈mem_flat hash join shuffled the
    # flagged-members × dim frame by (vec_id, cell) just to attach a
    # 1-byte tag; halves is O(flagged members), always broadcastable).
    sub_cent = (
        mem_flat.join(F.broadcast(halves), ["vec_id", "cell"])
        .groupBy("cell", "half", "i")
        .agg(F.avg("x").alias("cx"))
    )
    # Rescore straight off the persisted mem_flat: sub_cent carries two
    # halves per (cell, i), so the broadcast join alone produces the
    # (vec, cell, half) scoring grain — the member's own half tag was
    # never used here.
    resc = (
        mem_flat.select("vec_id", "cell", "i", "x")
        .join(F.broadcast(sub_cent), ["cell", "i"])
        .groupBy("vec_id", "cell", "half")
        .agg(_cosine_agg("x", "cx").alias("cosine"))
    )
    refiled = topk_ranked(
        resc, "PARTITION BY vec_id ORDER BY cosine DESC, half ASC", 1
    ).selectExpr(
        "vec_id",
        "CAST(cell * 10 + 1 + half AS BIGINT) AS new_cell",
        "CAST(cell AS BIGINT) AS parent_cell",
        "TRUE AS was_split",
    )
    kept = cells.join(F.broadcast(refile), "cell", "left_anti").selectExpr(
        "vec_id",
        "CAST(cell * 10 AS BIGINT) AS new_cell",
        "CAST(cell AS BIGINT) AS parent_cell",
        "FALSE AS was_split",
    )
    g = (
        refiled.unionByName(kept)
        .groupBy("new_cell", "parent_cell", "was_split")
        .agg(F.expr("CAST(count(1) AS BIGINT)").alias("n_vecs"))
    )
    return g.selectExpr(
        "new_cell",
        "parent_cell",
        "was_split",
        "n_vecs",
        "floor(CAST(n_vecs AS DOUBLE) / sum(n_vecs) OVER () * 1000000.0D + 0.5D)"
        " / 1000000.0D AS share",
        "(n_vecs * count(1) OVER ()) > (2 * sum(n_vecs) OVER ()) AS oversized",
    )


# --- incremental IVF filing (continuous ingestion) ----------------------------

# Deterministic 10% "arriving batch" — the same salted-md5 split
# discipline as incremental_lsh_probe (dedup.py) and
# train_test_split: reproducible across engines, partitionings, runs.
_IVF_DELTA_SEED = "|ivf-delta-seed-1"


def _ivf_delta_flag() -> "F.Column":
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("vec_id").cast("string"), F.lit(_IVF_DELTA_SEED))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        >= 90
    )


def _ivf_frozen_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FROZEN standing-corpus quantizer (label, i, cx) — per-label
    dim means over STANDING vectors only, never the delta: the FAISS
    add() contract (an arriving batch is filed by the persisted
    quantizer, not a retrained one).  Memoized + persisted per
    (session, sf): at 100 TB this is THE codebook artifact the append
    path probes — nlist×dim rows, broadcastable."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings", fan_out=True)
        return _ivf_cent_flat(
            emb.filter(~_ivf_delta_flag()).select("label", "embedding")
        )

    return session_persist(spark, f"ivf.frozen_quant.{tag}", build)


def _ivf_file_by_frozen(
    spark: SparkSession, sf_dir: str, vectors: DataFrame
) -> DataFrame:
    """(vec_id, cell): file `vectors` under the frozen standing-corpus
    quantizer — the exact `_ivf_cells` arithmetic (argmax cosine, 6dp,
    label-asc ties), shared by the standing filing, the delta filing,
    and the pytest incremental==rebuild law."""
    return topk_ranked(
        _ivf_cell_scores(
            vectors.select("vec_id", "embedding"),
            _ivf_frozen_quantizer(spark, sf_dir),
        ),
        "PARTITION BY vec_id ORDER BY cosine DESC, label ASC",
        1,
    ).select("vec_id", F.col("label").alias("cell"))


def _ivf_standing_filing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing corpus's (vec_id, cell) under the frozen quantizer
    — the inverted file's MEMBERSHIP METADATA, memoized + persisted
    per (session, sf) like `_ivf_cells`.

    r11 honesty fix (the r10 verdict's one scale margin): the append
    path used to recompute this filing IN-PLAN on every run — a full
    O(corpus × nlist) rescore of the standing corpus just to produce
    per-cell `n_before` — so 'per-batch cost independent of corpus
    size' was true of the delta stage but not the registered plan.
    The filing is an ingest-time cost amortized over every append
    (exactly `incremental_lsh_probe`'s persisted band SILVER,
    dedup.py): the registered append plans now read this persisted
    frame (InMemoryTableScan — pinned in tests/test_plans.py) and the
    only embeddings scan left in the append path is the batch's own."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings", fan_out=True)
        return _ivf_file_by_frozen(spark, sf_dir, emb.filter(~_ivf_delta_flag()))

    return session_persist(spark, f"ivf.frozen_cells.{tag}", build)


def _ivf_standing_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, i, sum_x, n): per-cell per-dim moment SUMS of the
    STANDING members under the frozen quantizer — the mergeable form
    of the drift signal's member means (mean = Σx / n, and sums merge
    across appends where averages don't).  Memoized + persisted per
    (session, sf) like `_ivf_standing_filing`: an ingest-time artifact
    (nlist×dim rows) that lets the STREAMED drift read
    (`streaming.jobs.streamed_drift_stats`) combine continuously-
    ingested delta moments with the standing corpus WITHOUT rescanning
    it — the retrain trigger off live state, batch == streamed pinned
    in tests/test_streaming.py."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings", fan_out=True)
        v_flat = (
            emb.filter(~_ivf_delta_flag())
            .select("vec_id", F.posexplode("embedding").alias("i", "x"))
            .withColumn("x", F.col("x").cast("double"))
        )
        return (
            _ivf_standing_filing(spark, sf_dir)
            .join(v_flat, "vec_id")
            .groupBy("cell", "i")
            .agg(
                F.sum("x").alias("sum_x"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
        )

    return session_persist(spark, f"ivf.standing_moments.{tag}", build)


def _ivf_delta_filing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving batch's (vec_id, cell) under the frozen quantizer —
    deliberately IN-PLAN (this IS the per-append cost: one explode →
    broadcast-codebook join → map-side aggregate → per-vector argmax
    over the BATCH only, O(batch × nlist × dim))."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    return _ivf_file_by_frozen(spark, sf_dir, emb.filter(_ivf_delta_flag()))


def _ivf_post_append_filing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, is_delta): the POST-APPEND inverted-file
    membership — persisted standing metadata + the batch filed once —
    memoized + persisted per (session, sf) and shared by every
    post-append consumer (`ivf_codebook_drift_stats`,
    `ivf_codebook_retrain`, `ivf_append_refile`).  r11 self-review
    fix: each consumer used to materialize its OWN tracked-persist
    copy of this identical corpus-sized frame — three cached copies of
    one membership.  (`ivf_file_delta` deliberately does NOT read
    this: its registered plan must show the batch scoring as the
    per-append cost — the live-scan honesty pin.)"""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        return (
            _ivf_standing_filing(spark, sf_dir)
            .withColumn("is_delta", F.lit(False))
            .unionByName(
                _ivf_delta_filing(spark, sf_dir).withColumn(
                    "is_delta", F.lit(True)
                )
            )
        )

    return session_persist(spark, f"ivf.postappend.{tag}", build)


def _cosine_agg(a: str, b: str) -> "F.Column":
    """The guarded 6dp cosine as a grouped AGGREGATE over per-dim
    component columns `a` and `b` — THE engine-side arithmetic every
    IVF scoring/drift/refile stage shares (r11 self-review fix: the
    block was copy-pasted per stage, so a rounding or zero-norm tweak
    could silently diverge the signal from the action while their
    SQL oracles — which share `_IVF_DRIFT_CORE_SQL` — stayed in
    agreement).

    Single F.expr parse (r13, guide §5/§7.3): every call site passes
    plain column NAMES, and the former Column chain cost ~30 py4j
    round trips per stage; the SQL spells the identical arithmetic
    (repeated sqrt-sum subtrees exactly as the Column version reused
    its `na`/`nb` objects, int-0 comparisons, 0.0D else, 6dp round)."""
    na = f"sqrt(sum({a} * {a}))"
    nb = f"sqrt(sum({b} * {b}))"
    return F.expr(
        f"round(CASE WHEN {na} > 0 AND {nb} > 0 "
        f"THEN sum({a} * {b}) / ({na} * {nb}) "
        "ELSE 0.0D END, 6)"
    )


def _ivf_drift_core(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(current per-cell member means, per-cell drift) — the engine
    twin of `_IVF_DRIFT_CORE_SQL`, shared by the signal
    (`ivf_codebook_drift_stats`) and the action
    (`ivf_codebook_retrain`) so they can never disagree about the
    drift that links them.  The means frame is tracked-persisted under
    one shared tag (it is both the drift input and the retrain's refit
    target)."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    allc = _ivf_post_append_filing(spark, sf_dir)
    v_flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    cur = tracked_persist(
        allc.join(v_flat, "vec_id").groupBy("cell", "i").agg(
            F.avg("x").alias("mx")
        ),
        f"ivf.postappend_means.{dataset_tag(sf_dir)}",
    )
    cent = _ivf_frozen_quantizer(spark, sf_dir).select(
        F.col("label").alias("cell"), "i", "cx"
    )
    drift = (
        cur.join(F.broadcast(cent), ["cell", "i"])
        .groupBy("cell")
        .agg(_cosine_agg("mx", "cx").alias("codebook_cosine"))
    )
    return cur, drift


# Shared CTE block for the frozen-quantizer maintenance pair
# (ivf_file_delta, ivf_codebook_drift_stats): delta flags, the
# standing-corpus quantizer, and the post-append filing of EVERY
# vector under it.
_IVF_DELTA_CELLS_SQL = f"""flags AS (
    SELECT vec_id,
           ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '{_IVF_DELTA_SEED}'), 1, 8))::BIGINT
               % 100 >= 90 AS is_delta
    FROM embeddings
),
cent_flat AS (
    SELECT label, i, avg(CAST(x AS DOUBLE)) AS cx
    FROM (
        SELECT e.label, unnest(e.embedding) AS x,
               generate_subscripts(e.embedding, 1) AS i
        FROM embeddings e JOIN flags f ON f.vec_id = e.vec_id
        WHERE NOT f.is_delta
    )
    GROUP BY label, i
),
v_flat AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
),
v_cent AS (
    SELECT v.vec_id, c.label,
           round(CASE WHEN sqrt(sum(v.x * v.x)) > 0 AND sqrt(sum(c.cx * c.cx)) > 0
                      THEN sum(v.x * c.cx) / (sqrt(sum(v.x * v.x)) * sqrt(sum(c.cx * c.cx)))
                      ELSE 0.0 END, 6) AS cosine
    FROM v_flat v JOIN cent_flat c ON v.i = c.i
    GROUP BY v.vec_id, c.label
),
v_cell AS (
    SELECT vec_id, label AS cell
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, label
        ) AS rk
        FROM v_cent
    )
    WHERE rk = 1
)"""


_IVF_FILE_DELTA_ORACLE = f"""
WITH {_IVF_DELTA_CELLS_SQL.strip()},
counts AS (
    SELECT CAST(c.cell AS BIGINT) AS cell,
           CAST(sum(CASE WHEN f.is_delta THEN 0 ELSE 1 END) AS BIGINT) AS n_before,
           CAST(sum(CASE WHEN f.is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_added
    FROM v_cell c JOIN flags f ON f.vec_id = c.vec_id
    GROUP BY c.cell
)
SELECT cell, n_before, n_added,
       n_before + n_added AS n_after,
       floor(CAST(n_before + n_added AS DOUBLE)
             / sum(n_before + n_added) OVER () * 1e6 + 0.5) / 1e6 AS share_after,
       ((n_before + n_added) * count(*) OVER ())
           > (2 * sum(n_before + n_added) OVER ()) AS oversized_after
FROM counts
"""


@register(
    "ivf_file_delta",
    survey="similarity,S15,S16 (extension: incremental vector-index filing)",
    oracle=_IVF_FILE_DELTA_ORACLE,
    # bench flag retired r12 (wall-budget rotation, r11 verdict #6):
    # ivf_refile_oversized stays as the maintenance family's bench
    # representative (the deepest plan); this query's scale claim is
    # carried by the per-round probe rows (SCALE.md) and the plan pin.
)
def ivf_file_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF filing — the vector index's continuous-ingestion
    path, completing the maintenance triangle alongside
    `ivf_cell_balance_stats` (signal) and `ivf_refile_oversized`
    (action), and matching the discipline the other two index tiers
    already have: `incremental_lsh_probe` (delta batch vs standing LSH
    corpus) and `append_file_bloom_index` (Bloom append == rebuild).

    The deterministic 10% arriving batch (salted-md5 split, same
    family as `train_test_split`) is filed into the inverted file by
    the FROZEN standing-corpus quantizer — per-label dim means over
    standing vectors only, exactly FAISS's add(): an append never
    retrains the quantizer, so filing a batch costs
    O(batch × nlist × dim), independent of corpus size.  Output is the
    post-append per-cell stats in `ivf_cell_balance_stats`' exact
    table language (n_before / n_added / n_after / share_after /
    oversized_after, integer-exact flag), so an append can TRIGGER the
    refile: oversized_after feeds `ivf_refile_oversized`'s admission
    the same way the balance-stats flag does.

    The maintenance law (tests/test_similarity_paths.py): the batch
    path's delta assignments equal a full `_ivf_cells`-style filing of
    the whole corpus under the same frozen quantizer, RESTRICTED to
    the delta — incremental == rebuild, the invariant that makes the
    append trustworthy.

    Scale shape (r11: now true of the REGISTERED PLAN, not just the
    delta stage): the quantizer is a persisted nlist×dim frame
    (broadcast); delta filing is one explode → broadcast-join →
    map-side aggregate → per-vector argmax window over the BATCH only;
    the standing side reads the PERSISTED inverted-file membership
    (`_ivf_standing_filing` — InMemoryTableScan in the plan, pinned in
    tests/test_plans.py) and aggregates it to per-cell counts, so the
    only embeddings scan in the append plan is the batch's own — the
    `incremental_lsh_probe` persisted-SILVER precedent.  Stats grain
    is O(cells)."""
    file_cells = _ivf_standing_filing(spark, sf_dir)
    add_cells = _ivf_delta_filing(spark, sf_dir)
    before = file_cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    added = add_cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_added")
    )
    j = (
        before.join(added, "cell", "full_outer")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.coalesce("n_before", F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce("n_added", F.lit(0)).cast("bigint").alias("n_added"),
        )
        .withColumn("n_after", (F.col("n_before") + F.col("n_added")).cast("bigint"))
    )
    wall = Window.partitionBy()
    total = F.sum("n_after").over(wall)
    ncells = F.count(F.lit(1)).over(wall)
    return j.select(
        "cell",
        "n_before",
        "n_added",
        "n_after",
        (
            F.floor(
                F.col("n_after").cast("double") / total * F.lit(1e6) + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("share_after"),
        ((F.col("n_after") * ncells) > (F.lit(2) * total)).alias("oversized_after"),
    )


# Retrain admission: a cell whose CURRENT filed-member mean has drifted
# to cosine < tau against its frozen codebook centroid.
#
# TWO operating points, deliberately distinct (r11, tools/
# drift_threshold_sweep.py — the staleness→recall/cost curve):
#
# - _IVF_DRIFT_TAU = 0.85, the REGISTERED/fixture threshold: chosen
#   inside the measured fixture band (per-cell cosines span 0.81-0.91
#   at sf0.001/sf0.01) so both flag branches — and the retrain's
#   flagged path — are exercised at every test SF; the comparison runs
#   on the same 6dp-rounded cosine both engines compute, so the
#   threshold cannot straddle engines.
# - _IVF_DRIFT_TRIGGER_SCALED = 0.55, the MEASURED production TRIGGER
#   (SCALE.md drift-sweep table, pinned two-sided in
#   tests/test_similarity_paths.py).  The sweep (novel mode injected
#   into the append stream) measured a two-threshold structure:
#   (a) retraining while the mode is HALF-FORMED (min drift 0.62-0.74)
#   trades recall away (sf1 0.98→0.74 — the refit centroid makes
#   new-mode queries under-probe while true neighbors still sit in
#   unretrained cells); (b) once any cell drifts below ~0.55 the mode
#   is fully formed and retraining PAYS — but ONLY if the retrain
#   admits the WHOLE drifted family: refitting a strict subset (e.g.
#   a 0.55 admission at sf1 lam=0.8 catches 1 of the 2 drifted cells)
#   collapses recall 1.0→0.62, because the confident refit centroid
#   suppresses the margin-adaptive escalation that was compensating
#   for the remaining stale cells.  Production policy therefore:
#   TRIGGER a retrain when min per-cell drift < 0.55, and ADMIT every
#   cell under the registered 0.85 flag (trigger-low, admit-wide) —
#   measured a pure win at every sweep point (recall within 0.02,
#   scan fraction ≤ 0.75× frozen).  The fixture corpus CANNOT express
#   this curve (its natural band never leaves 0.81-0.91; mode
#   MIGRATION is absorbed by argmax-consistent filing — the sweep's
#   first finding), which is why the registered threshold stays
#   fixture-calibrated and the production policy lives in the sweep
#   pin.
_IVF_DRIFT_TAU = 0.85
_IVF_DRIFT_TRIGGER_SCALED = 0.55

# The drift CORE — current per-cell member means + the cosine of each
# cell's frozen centroid against them.  Shared VERBATIM by the signal
# (`ivf_codebook_drift_stats`) and the action (`ivf_codebook_retrain`)
# oracles, so the action can never disagree with the signal it
# consumes about which cells are flagged.
_IVF_DRIFT_CORE_SQL = """cur AS (
    SELECT c.cell, v.i, avg(v.x) AS mx
    FROM v_cell c JOIN v_flat v ON v.vec_id = c.vec_id
    GROUP BY c.cell, v.i
),
drift AS (
    SELECT cur.cell,
           round(CASE WHEN sqrt(sum(cur.mx * cur.mx)) > 0
                       AND sqrt(sum(cf.cx * cf.cx)) > 0
                      THEN sum(cur.mx * cf.cx)
                           / (sqrt(sum(cur.mx * cur.mx)) * sqrt(sum(cf.cx * cf.cx)))
                      ELSE 0.0 END, 6) AS codebook_cosine
    FROM cur JOIN cent_flat cf ON cf.label = cur.cell AND cf.i = cur.i
    GROUP BY cur.cell
)"""

_IVF_DRIFT_ORACLE = f"""
WITH {_IVF_DELTA_CELLS_SQL.strip()},
memb AS (
    SELECT CAST(c.cell AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN f.is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_added
    FROM v_cell c JOIN flags f ON f.vec_id = c.vec_id
    GROUP BY c.cell
),
{_IVF_DRIFT_CORE_SQL}
SELECT m.cell, m.n_members, m.n_added, d.codebook_cosine,
       d.codebook_cosine < {_IVF_DRIFT_TAU} AS retrain_flagged
FROM memb m JOIN drift d ON d.cell = m.cell
"""


@register(
    "ivf_codebook_drift_stats",
    survey="similarity,S15 (extension: codebook staleness — the retrain signal)",
    oracle=_IVF_DRIFT_ORACLE,
    # bench flag retired r12 (wall-budget rotation, r11 verdict #6):
    # one maintenance representative stays benched
    # (ivf_refile_oversized); probe rows + plan pins carry the rest.
)
def ivf_codebook_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-staleness audit — the RETRAIN signal that closes the
    frozen-quantizer loop `ivf_file_delta` opens: appends file against
    a frozen codebook (FAISS add()), so something must say when that
    codebook has drifted from the vectors actually filed under it.
    Per cell: the cosine between the FROZEN centroid and the CURRENT
    mean of the cell's post-append members, member/append counts, and
    a deterministic retrain flag (cosine < 0.85, compared on the
    6dp-rounded value both engines produce).  Together the vector
    index now has the full maintenance vocabulary the Bloom tier set
    the pattern for: occupancy signal (`ivf_cell_balance_stats`) →
    rebalance action (`ivf_refile_oversized`), ingest path
    (`ivf_file_delta`) → staleness signal (this) → retrain (rebuild
    the quantizer = re-run the filing, the `bloom_rebuild_decision` →
    rebuild analogy).

    Drift here measures BOTH append drift and filing-vs-codebook
    mismatch (a cell's filed members are argmax-assigned, not
    label-assigned, so even the standing corpus sits below cosine 1.0
    — the measured fixture band is 0.81-0.91), which is exactly what
    a retrain decision needs: the index's effective geometry vs the
    codebook it probes with.

    Scale shape (r11: the standing filing is no longer rescored
    in-plan — the plan reads the persisted inverted-file membership,
    `_ivf_standing_filing`, and the only quantizer scoring left is the
    batch's own): the current centroids are one map-side-combinable
    (cell, dim) mean over the membership ⋈ vectors; the codebook join
    is nlist×dim broadcast; output is O(cells)."""
    # the post-append membership and the drift core are the SESSION-
    # shared frames every post-append consumer reads (r11 self-review:
    # one membership, one means frame — not a tracked-persist copy per
    # consumer)
    allc = _ivf_post_append_filing(spark, sf_dir)
    memb = allc.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("is_delta"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
    ).select(F.col("cell").cast("bigint").alias("cell"), "n_members", "n_added")
    _, drift = _ivf_drift_core(spark, sf_dir)
    drift = drift.select(
        F.col("cell").cast("bigint").alias("cell"), "codebook_cosine"
    )
    return memb.join(drift, "cell").select(
        "cell",
        "n_members",
        "n_added",
        "codebook_cosine",
        (F.col("codebook_cosine") < F.lit(_IVF_DRIFT_TAU)).alias("retrain_flagged"),
    )


# The retrain's flagged-scope refile as a named CTE block (r12
# extraction for `ivf_maintenance_execute` — shared VERBATIM with
# `_IVF_RETRAIN_ORACLE`, which stays byte-identical): refit centroids
# = flagged cells' current means, flagged members refiled among them.
# Expects cur/drift/flagged/v_cell/v_flat in scope.
_IVF_RETRAIN_REFILE_SQL = """new_cent AS (
    SELECT cell, i, mx AS cx FROM cur
    WHERE cell IN (SELECT cell FROM flagged)
),
fm AS (
    SELECT vec_id, cell FROM v_cell
    WHERE cell IN (SELECT cell FROM flagged)
),
rt_resc AS (
    SELECT f.vec_id, nc.cell AS cand_cell,
           round(CASE WHEN sqrt(sum(v.x * v.x)) > 0
                       AND sqrt(sum(nc.cx * nc.cx)) > 0
                      THEN sum(v.x * nc.cx)
                           / (sqrt(sum(v.x * v.x)) * sqrt(sum(nc.cx * nc.cx)))
                      ELSE 0.0 END, 6) AS cosine
    FROM fm f
    JOIN v_flat v ON v.vec_id = f.vec_id
    JOIN new_cent nc ON nc.i = v.i
    GROUP BY f.vec_id, nc.cell
),
rt_refiled AS (
    SELECT vec_id, cand_cell AS cell
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, cand_cell
        ) AS rk
        FROM rt_resc
    )
    WHERE rk = 1
)"""

_IVF_RETRAIN_ORACLE = f"""
WITH {_IVF_DELTA_CELLS_SQL.strip()},
memb AS (
    SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_before
    FROM v_cell GROUP BY cell
),
{_IVF_DRIFT_CORE_SQL},
flagged AS (SELECT cell FROM drift WHERE codebook_cosine < {_IVF_DRIFT_TAU}),
{_IVF_RETRAIN_REFILE_SQL},
after_means AS (
    SELECT r.cell, v.i, avg(v.x) AS mx
    FROM rt_refiled r JOIN v_flat v ON v.vec_id = r.vec_id
    GROUP BY r.cell, v.i
),
after_cos AS (
    SELECT nc.cell,
           round(CASE WHEN sqrt(sum(am.mx * am.mx)) > 0
                       AND sqrt(sum(nc.cx * nc.cx)) > 0
                      THEN sum(am.mx * nc.cx)
                           / (sqrt(sum(am.mx * am.mx)) * sqrt(sum(nc.cx * nc.cx)))
                      ELSE 0.0 END, 6) AS c_after
    FROM after_means am JOIN new_cent nc ON nc.cell = am.cell AND nc.i = am.i
    GROUP BY nc.cell
),
after_n AS (
    SELECT cell, CAST(count(*) AS BIGINT) AS n FROM rt_refiled GROUP BY cell
),
united AS (
    SELECT CAST(f.cell AS BIGINT) AS cell, TRUE AS retrained,
           m.n_before, CAST(COALESCE(an.n, 0) AS BIGINT) AS n_after,
           d.codebook_cosine AS codebook_cosine_before,
           COALESCE(ac.c_after, 0.0) AS codebook_cosine_after
    FROM flagged f
    JOIN memb m ON m.cell = f.cell
    JOIN drift d ON d.cell = f.cell
    LEFT JOIN after_n an ON an.cell = f.cell
    LEFT JOIN after_cos ac ON ac.cell = f.cell
    UNION ALL
    SELECT CAST(d.cell AS BIGINT) AS cell, FALSE AS retrained,
           m.n_before, m.n_before AS n_after,
           d.codebook_cosine AS codebook_cosine_before,
           d.codebook_cosine AS codebook_cosine_after
    FROM drift d JOIN memb m ON m.cell = d.cell
    WHERE d.codebook_cosine >= {_IVF_DRIFT_TAU}
)
SELECT cell, retrained, n_before, n_after,
       codebook_cosine_before, codebook_cosine_after,
       codebook_cosine_after < {_IVF_DRIFT_TAU} AS still_flagged
FROM united
"""


@register(
    "ivf_codebook_retrain",
    survey="similarity,S15 (extension: the retrain ACTION — codebook refit + refile)",
    oracle=_IVF_RETRAIN_ORACLE,
    # bench flag retired r12 (wall-budget rotation, r11 verdict #6):
    # one maintenance representative stays benched
    # (ivf_refile_oversized); probe rows + plan pins carry the rest.
)
def ivf_codebook_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain ACTION — consumer of `ivf_codebook_drift_stats`'
    `retrain_flagged` signal, closing the last open maintenance edge:
    every signal in the repo now has its consumer (occupancy →
    `ivf_refile_oversized`, Bloom saturation → the wider-generation
    rebuild, drift → THIS).

    For every flagged cell (drift cosine < tau, the signal's exact
    admission — the oracle composes the drift CORE verbatim so the
    action can never disagree with the signal): the centroid is REFIT
    to the cell's current post-append member mean (one deterministic
    Lloyd update — the `ivf_refile_oversized` arithmetic class), then
    every member of a flagged cell is REFILED to its nearest RETRAINED
    centroid (argmax cosine, 6dp, cell-asc ties — `_ivf_cells`'
    filing discipline, restricted to the flagged scope so unflagged
    cells are untouched BY CONSTRUCTION: a partition re-draw over the
    flagged region only, the same recall-invariance argument as the
    refile's split).  Output is the post-retrain audit in the signal's
    own table language: per cell, member counts and codebook cosines
    before/after, plus `still_flagged` replaying the signal's
    threshold on the post-retrain cosine — so a retrain's effect is
    checkable by the SAME rule that triggered it.

    Laws (tests/test_similarity_paths.py): unflagged rows pass through
    bit-identical (counts and cosines); flagged-scope membership is
    conserved (Σ n_after == Σ n_before over retrained rows); per
    flagged cell the post-retrain cosine improves (refit centroid ==
    member mean; members only move closer); cross-query, `retrained`
    equals the signal's `retrain_flagged` cell-exactly.

    Scale shape: the filing is the persisted inverted-file metadata
    (`_ivf_standing_filing` + the batch's own scoring — the r11 honest
    append path); the drift pass is the signal's own (cell, dim)
    broadcast-join; the refit is free (the means are already computed);
    the refile touches ONLY flagged-cell members against the
    O(flagged × dim) broadcast retrained codebook.  Nothing rescans
    the unflagged corpus."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    # the session-shared post-append membership + drift core — the
    # SAME frames the signal reads (r11 self-review: the engine side
    # now shares its drift pass the way the oracles share
    # _IVF_DRIFT_CORE_SQL, so signal and action cannot diverge)
    allc = _ivf_post_append_filing(spark, sf_dir).select("vec_id", "cell")
    n_before = allc.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    v_flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    # current per-cell member means — the drift pass AND the refit
    # target in one shared frame (the retrain's update step is free)
    cur, drift = _ivf_drift_core(spark, sf_dir)
    drift = drift.withColumnRenamed("codebook_cosine", "codebook_cosine_before")
    flagged = drift.filter(
        F.col("codebook_cosine_before") < F.lit(_IVF_DRIFT_TAU)
    ).select("cell")
    # retrained codebook = the flagged cells' current means (refit),
    # broadcast into the refile scoring below
    new_cent = cur.join(F.broadcast(flagged), "cell").select(
        F.col("cell").alias("cand_cell"), "i", F.col("mx").alias("cx")
    )
    # flagged members' dims, materialized once (refile arithmetic
    # class — bounded by the flagged scope, never the corpus)
    mem_flat = tracked_persist(
        allc.join(F.broadcast(flagged), "cell").join(v_flat, "vec_id"),
        "ivf_retrain.mem_flat",
    )
    resc = (
        mem_flat.select("vec_id", "i", "x")
        .join(F.broadcast(new_cent), "i")
        .groupBy("vec_id", "cand_cell")
        .agg(_cosine_agg("x", "cx").alias("cosine"))
    )
    refiled = topk_ranked(
        resc, "PARTITION BY vec_id ORDER BY cosine DESC, cand_cell ASC", 1
    ).select("vec_id", F.col("cand_cell").alias("cell"))
    after_means = (
        refiled.join(mem_flat.select("vec_id", "i", "x"), "vec_id")
        .groupBy("cell", "i")
        .agg(F.avg("x").alias("mx"))
    )
    after_cos = (
        after_means.join(
            F.broadcast(
                new_cent.select(F.col("cand_cell").alias("cell"), "i", "cx")
            ),
            ["cell", "i"],
        )
        .groupBy("cell")
        .agg(_cosine_agg("mx", "cx").alias("c_after"))
    )
    after_n = refiled.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    out_flagged = (
        flagged.join(n_before, "cell")
        .join(drift, "cell")
        .join(after_n, "cell", "left")
        .join(after_cos, "cell", "left")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.lit(True).alias("retrained"),
            "n_before",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_after"),
            "codebook_cosine_before",
            F.coalesce(F.col("c_after"), F.lit(0.0)).alias(
                "codebook_cosine_after"
            ),
        )
    )
    out_unflagged = (
        drift.filter(F.col("codebook_cosine_before") >= F.lit(_IVF_DRIFT_TAU))
        .join(n_before, "cell")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.lit(False).alias("retrained"),
            "n_before",
            F.col("n_before").alias("n_after"),
            "codebook_cosine_before",
            F.col("codebook_cosine_before").alias("codebook_cosine_after"),
        )
    )
    return out_flagged.unionByName(out_unflagged).select(
        "cell",
        "retrained",
        "n_before",
        "n_after",
        "codebook_cosine_before",
        "codebook_cosine_after",
        (F.col("codebook_cosine_after") < F.lit(_IVF_DRIFT_TAU)).alias(
            "still_flagged"
        ),
    )


_IVF_APPEND_REFILE_ORACLE = f"""
WITH {_IVF_DELTA_CELLS_SQL.strip()},
{_IVF_REFILE_BODY_SQL}"""


@register(
    "ivf_append_refile",
    survey="similarity,S15,S16 (extension: append-triggered rebalance — oversized_after CONSUMED)",
    oracle=_IVF_APPEND_REFILE_ORACLE,
)
def ivf_append_refile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append's `oversized_after` flag CONSUMED — until r11 the
    link between `ivf_file_delta` and the refile was shared admission
    ARITHMETIC (law-pinned but never executed end-to-end); this
    registers the composition: the refile action applied to the
    POST-APPEND inverted file (standing membership from the persisted
    `_ivf_standing_filing` + the batch filed in-plan, both under the
    FROZEN quantizer), admitting every cell above the 110% maintenance
    capacity of the post-append counts — exactly the cells whose
    `n_after` the append reported oversized-or-crowded.

    Algorithm and oracle are SHARED VERBATIM with
    `ivf_refile_oversized` (`_refile_oversized_impl` /
    `_IVF_REFILE_BODY_SQL` — the action is literally the same code
    over either signal), so the two consumers can never drift; only
    the filing and the quantizer differ (frozen standing-corpus
    codebook here — a post-append rebalance must not retrain, that is
    `ivf_codebook_retrain`'s job).

    Laws (tests/test_similarity_paths.py): admission == the 110% rule
    replayed on `ivf_file_delta.n_after` cell-exactly; partition
    refinement (split parents' members redistribute between their own
    two sub-cells); unsplit cells pass through with n_vecs ==
    n_after; total membership conserved.

    Scale shape: identical to the refile's (flagged-scope split
    arithmetic over a persisted member-dims frame) — plus the r11
    honest-append guarantee that the standing filing is persisted
    metadata, so the whole append→rebalance path costs
    O(batch × nlist + flagged members × dim) per cycle."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    cells = _ivf_post_append_filing(spark, sf_dir).select("vec_id", "cell")
    cent_own = _ivf_frozen_quantizer(spark, sf_dir).select(
        F.col("label").alias("cell"), "i", "cx"
    )
    return _refile_oversized_impl(emb, cells, cent_own, "ivf_append_refile")


# --- the per-cycle maintenance DECISION ----------------------------------------

# The decision's registered operating point.  The fixture corpus's
# drift band (0.81-0.91) cannot express the measured production curve
# (see the _IVF_DRIFT_TAU / _IVF_DRIFT_TRIGGER_SCALED comment block),
# so the REGISTERED decision runs trigger == admit == the fixture tau —
# the degenerate-but-coherent two-threshold instance in which a cycle
# triggers iff any cell is flagged and admission is the flag itself,
# exercising every action branch at every test SF.  The PRODUCTION
# operating point (trigger-low 0.55, admit-wide 0.85 — measured in
# tools/drift_threshold_sweep.py, pinned two-sided in
# tests/test_similarity_paths.py) plugs into the same impl via the
# (trigger, admit) parameters.


def _maintenance_decision_from_frames(
    ds: DataFrame, fd: DataFrame, bs: DataFrame, trigger: float, admit: float
) -> DataFrame:
    """The decision LADDER over its three signal FRAMES — factored out
    (r12) so the streamed read-side
    (`streaming.jobs.streamed_maintenance_decision`) can run the
    IDENTICAL ladder over continuously-ingested state and be law-pinned
    cell-exact against the registered batch decision.

    ds: (cell, codebook_cosine, retrain_flagged);
    fd: (cell, n_after, oversized_after);
    bs: (cell, occ_oversized) — the standing-occupancy baseline."""
    j = ds.join(fd, "cell").join(F.broadcast(bs), "cell", "left")
    wall = Window.partitionBy()
    total = F.sum("n_after").over(wall)
    ncells = F.count(F.lit(1)).over(wall)
    refile_due = (
        F.col("n_after") * ncells * F.lit(10) > F.lit(_REFILE_NUM) * total
    )
    cycle_trigger = F.min("codebook_cosine").over(wall) < F.lit(trigger)
    x = j.select(
        "cell",
        "codebook_cosine",
        "retrain_flagged",
        "n_after",
        "oversized_after",
        F.coalesce("occ_oversized", F.lit(False)).alias("occ_oversized"),
        refile_due.alias("refile_due"),
        cycle_trigger.alias("cycle_trigger"),
    )
    action = (
        F.when(
            F.col("cycle_trigger") & (F.col("codebook_cosine") < F.lit(admit)),
            F.lit("retrain"),
        )
        .when(F.col("refile_due"), F.lit("refile"))
        .otherwise(F.lit("wait"))
    )
    return x.withColumn("action", action)


def _ivf_maintenance_decision_impl(
    spark: SparkSession,
    sf_dir: str,
    trigger: float = _IVF_DRIFT_TAU,
    admit: float = _IVF_DRIFT_TAU,
) -> DataFrame:
    """The batch decision: the shared ladder over the REGISTERED
    signals — used by the registered query (fixture point) and the
    production-point tests, exactly like `_refile_oversized_impl`
    parameterizes the refile on its input filing."""
    from .registry import REGISTRY

    ds = REGISTRY["ivf_codebook_drift_stats"].fn(spark, sf_dir).select(
        "cell", "codebook_cosine", "retrain_flagged"
    )
    fd = REGISTRY["ivf_file_delta"].fn(spark, sf_dir).select(
        "cell", "n_after", "oversized_after"
    )
    bs = REGISTRY["ivf_cell_balance_stats"].fn(spark, sf_dir).select(
        F.col("cell").cast("bigint").alias("cell"),
        F.col("oversized").alias("occ_oversized"),
    )
    return _maintenance_decision_from_frames(ds, fd, bs, trigger, admit)


def _ivf_maintenance_decision_oracle(
    trigger: float = _IVF_DRIFT_TAU, admit: float = _IVF_DRIFT_TAU
) -> str:
    """Compose the decision's oracle from the three COMPONENT oracles
    verbatim (the `curation_decision_gate` discipline: each component
    is a standalone WITH…SELECT, legal as a parenthesized CTE body in
    DuckDB), so the decision can never drift from the signals it
    gates on."""
    from .registry import REGISTRY

    ds = REGISTRY["ivf_codebook_drift_stats"].oracle
    fd = REGISTRY["ivf_file_delta"].oracle
    bs = REGISTRY["ivf_cell_balance_stats"].oracle
    return f"""
WITH ds AS ({ds}),
fd AS ({fd}),
bs AS ({bs}),
x AS (
    SELECT ds.cell, ds.codebook_cosine, ds.retrain_flagged,
           fd.n_after, fd.oversized_after,
           COALESCE(bs.oversized, FALSE) AS occ_oversized,
           (fd.n_after * count(*) OVER () * 10)
               > ({_REFILE_NUM} * sum(fd.n_after) OVER ()) AS refile_due,
           min(ds.codebook_cosine) OVER () < {trigger} AS cycle_trigger
    FROM ds
    JOIN fd ON fd.cell = ds.cell
    LEFT JOIN bs ON bs.cell = ds.cell
)
SELECT cell, codebook_cosine, retrain_flagged, n_after, oversized_after,
       occ_oversized, refile_due, cycle_trigger,
       CASE WHEN cycle_trigger AND codebook_cosine < {admit} THEN 'retrain'
            WHEN refile_due THEN 'refile'
            ELSE 'wait' END AS action
FROM x
"""


@register(
    "ivf_maintenance_decision",
    survey="similarity,S15 (extension: the per-cycle index-maintenance DECISION)",
    oracle=_ivf_maintenance_decision_oracle(),
)
def ivf_maintenance_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-cycle index-maintenance VERDICT — the one maintenance
    surface that had no registered consumer-facing table (r11 verdict
    #1): a production ingestion loop doesn't read three signal tables
    and a test pin, it reads ONE decision row per cell saying what to
    do this cycle.  Composed BY CALLING the registered signals —
    `ivf_codebook_drift_stats` (staleness), `ivf_file_delta`
    (post-append occupancy), `ivf_cell_balance_stats` (standing-index
    occupancy baseline) — and its oracle is composed verbatim from
    their oracles (`curation_decision_gate`'s discipline), so decision
    and signals cannot drift.

    Priority-ordered action per cell:

    - `retrain`  — the two-threshold retrain policy: the CYCLE
      triggers when the worst per-cell drift crosses the trigger
      (min codebook_cosine < trigger, a window min over the O(cells)
      frame), and admission is then WIDE (every cell under the admit
      tau) — the measured trigger-low/admit-wide rule
      (tools/drift_threshold_sweep.py: subset refits collapse recall
      1.0→0.62).  Retrain outranks refile: rebalancing against a
      codebook the same cycle will replace is wasted work, and
      `ivf_codebook_retrain` refiles the flagged scope anyway.
    - `refile`   — the 110% maintenance-capacity admission replayed on
      the POST-APPEND counts (integer-exact: n_after·ncells·10 >
      11·total) — exactly the set `ivf_append_refile` would split.
    - `wait`     — otherwise.

    The registered operating point is the fixture tau for BOTH
    thresholds (see `_ivf_maintenance_decision_impl` — the fixture
    drift band cannot express the production curve); the production
    point (0.55/0.85) runs through the same impl in the tests.

    Laws (tests/test_similarity_paths.py): action=='retrain' rows
    equal the signal's `retrain_flagged` cells exactly (when the cycle
    triggers); action=='refile' rows equal `ivf_append_refile`'s
    admission replayed on `ivf_file_delta.n_after` minus
    retrain-claimed cells; every cell appears exactly once.

    Scale shape: every input is O(cells) metadata (the signals'
    outputs — the corpus-sized work already happened inside them and
    is session-shared via `_ivf_post_append_filing`); the joins are
    cell-keyed over nlist rows, the balance baseline is broadcast, and
    the two window aggregates run over the same O(cells) frame.  The
    decision itself costs nothing at any corpus size."""
    return _ivf_maintenance_decision_impl(spark, sf_dir)


# --- IVF+PQ: the composed production index ------------------------------------

# The FAISS-production index shape the 100 TB ANN brief implies
# (IVF_{nlist},PQ_{M}): PQ codes stored per IVF cell, the ADC
# lookup-table scan restricted to the margin-adaptive probe set, exact
# re-rank of the shortlist.  The codebook trains/encodes RESIDUALS
# against the raw coarse-centroid mean (by_residual=true, the FAISS
# production default; r13).  The whole training loop is
# ORACLE-REPLAYABLE as unrolled CTEs (the
# `kmeans_lloyd_deterministic` finite-iteration pattern — the chain is
# keyed by subspace id, so M never multiplies the SQL) while the
# probe's pre-cut + shortlist + exact re-rank carry the recall.
# Every distance in the loop is floor-rounded at 6dp on BOTH sides
# before any argmin / rank (round_stable's formula), so the training
# trajectory, the encoding, and the ADC ordering are
# engine-deterministic.  First fixture calibration (M=4, K=8,
# shortlist min 50) read recall@5 = 0.50 vs `ann_ivf_topk`'s 0.68
# probe ceiling — the ADC cut was eating 0.18.  r12 shipped M=8/K=32
# (sf1i recall 0.68, the family's thinnest floor margin); the r13
# operating-point sweep (numpy replay of the exact quantizer/probe/
# shortlist rule on both 20k axes, SCALE.md findings) measured
# M=16/K=32 at sf1i 0.78 vs 0.68 (sf1 1.0 at every point, M=8/K=64
# WORSE at 0.64 — finer subspaces beat more centroids at fixed code
# budget), so the registered point is PQ16x5: sub_d=4, 16 codes per
# vector, still a 16x memory cut over the 64-dim float vector.
_IVFPQ_M = 16
_IVFPQ_K = 32
_IVFPQ_ITERS = 3
_IVFPQ_SUB_D = _EMB_DIM // _IVFPQ_M
# ADC shortlist fed to the exact re-rank: max(MIN, corpus // DIV).
# Scales with the corpus like the flat twin's (its r8 lesson: a fixed
# shortlist decays as n grows), divisor doubled because the probe has
# already cut the candidate pool to ~scan_fraction of the corpus.
_IVFPQ_SHORTLIST_MIN = 100
_IVFPQ_SHORTLIST_DIV = 50

# DuckDB-side rounded squared L2 between a data subvector s.sv and a
# centroid c.cv — the engine twin is round_stable(Σ(a-b)², 6).
_IVFPQ_DIST_SQL = (
    "floor(list_sum(list_transform(range(1, {d} + 1), "
    "i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) * 1e6 + 0.5) / 1e6"
).format(d=_IVFPQ_SUB_D)


def _ivfpq_oracle() -> str:
    """The full RESIDUAL IVFPQ replay as one DuckDB statement:
    normalize → subtract the assigned cell's coarse centroid (the
    raw quantizer mean — by_residual=true, the FAISS default) → slice
    the RESIDUAL into subspaces → K-point init (smallest vec_ids'
    residual subvectors) → _IVFPQ_ITERS unrolled Lloyd rounds
    (assignment = row_number over (6dp distance, code); update =
    per-(m, code, position) avg; empty codes keep their centroid) →
    encode → per-(query, probed-cell) LUT (the query's residual is
    RELATIVE TO EACH PROBED CELL — that is what residual encoding
    changes at search time) → ADC over the margin-adaptive probe set
    (the `_ivf_oracle` assign block) → shortlist → exact cosine
    re-rank."""
    steps = []
    prev = "c0"
    for t in range(1, _IVFPQ_ITERS + 1):
        steps.append(f"""a{t} AS (
    SELECT vec_id, m, sv, c FROM (
        SELECT s.vec_id, s.m, s.sv, c.c,
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {_IVFPQ_DIST_SQL}, c.c
               ) AS rn
        FROM sv s JOIN {prev} c ON c.m = s.m
    ) WHERE rn = 1
),
m{t} AS (
    SELECT a.m, a.c, t.i, avg(a.sv[t.i]) AS mu
    FROM a{t} a, range(1, {_IVFPQ_SUB_D} + 1) t(i)
    GROUP BY a.m, a.c, t.i
),
n{t} AS (SELECT m, c, list(mu ORDER BY i) AS cv FROM m{t} GROUP BY m, c),
c{t} AS (
    SELECT c.m, c.c, coalesce(n.cv, c.cv) AS cv
    FROM {prev} c LEFT JOIN n{t} n ON n.m = c.m AND n.c = c.c
)""")
        prev = f"c{t}"
    chain = ",\n".join(steps)
    return f"""
WITH {_IVF_CELLS_SQL.strip()},
assign AS (
    SELECT vec_id AS query_id, label AS probe_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, label
        ) AS rk,
        max(cosine) OVER (PARTITION BY vec_id) AS best
        FROM v_cent
    )
    WHERE vec_id < {_N_QUERIES}
      AND (rk <= 1
           OR (rk <= {_IVF_CAP} AND cosine >= best - {_IVF_DELTA}))
),
nv AS MATERIALIZED (
    SELECT vec_id,
           list_transform(
               embedding::DOUBLE[],
               x -> x / greatest(sqrt(list_dot_product(
                            embedding::DOUBLE[], embedding::DOUBLE[])),
                        1e-300)
           ) AS nvv
    FROM embeddings
),
ncent AS MATERIALIZED (
    SELECT label, list(cx ORDER BY i) AS ncv
    FROM cent_flat GROUP BY label
),
rv AS (
    SELECT n.vec_id,
           list_transform(range(1, {_EMB_DIM} + 1),
                          i -> n.nvv[i] - c.ncv[i]) AS rvv
    FROM nv n
    JOIN v_cell vc ON vc.vec_id = n.vec_id
    JOIN ncent c ON c.label = vc.cell
),
sv AS MATERIALIZED (
    SELECT vec_id, t.m,
           list_slice(rvv, t.m * {_IVFPQ_SUB_D} + 1,
                      (t.m + 1) * {_IVFPQ_SUB_D}) AS sv
    FROM rv, range(0, {_IVFPQ_M}) t(m)
),
c0 AS (
    SELECT m, CAST(vec_id AS INT) AS c, sv AS cv
    FROM sv WHERE vec_id < {_IVFPQ_K}
),
{chain},
codes AS (
    SELECT vec_id, m, c FROM (
        SELECT s.vec_id, s.m, c.c,
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {_IVFPQ_DIST_SQL}, c.c
               ) AS rn
        FROM sv s JOIN {prev} c ON c.m = s.m
    ) WHERE rn = 1
),
qsv AS (
    SELECT a.query_id, a.probe_label, t.m,
           list_slice(
               list_transform(range(1, {_EMB_DIM} + 1),
                              i -> n.nvv[i] - c.ncv[i]),
               t.m * {_IVFPQ_SUB_D} + 1, (t.m + 1) * {_IVFPQ_SUB_D}
           ) AS sv
    FROM assign a
    JOIN nv n ON n.vec_id = a.query_id
    JOIN ncent c ON c.label = a.probe_label
    CROSS JOIN range(0, {_IVFPQ_M}) t(m)
),
lut AS (
    SELECT s.query_id, s.probe_label, c.m, c.c, {_IVFPQ_DIST_SQL} AS d2
    FROM qsv s JOIN {prev} c ON c.m = s.m
),
cand AS (
    SELECT k.vec_id AS cand_id, vc.cell, k.m, k.c
    FROM codes k JOIN v_cell vc ON vc.vec_id = k.vec_id
),
adc AS (
    SELECT a.query_id, cd.cand_id,
           floor(sum(l.d2) * 1e6 + 0.5) / 1e6 AS adc
    FROM assign a
    JOIN cand cd ON cd.cell = a.probe_label AND cd.cand_id <> a.query_id
    JOIN lut l ON l.query_id = a.query_id
             AND l.probe_label = a.probe_label
             AND l.m = cd.m AND l.c = cd.c
    GROUP BY a.query_id, cd.cand_id
),
nshort AS (
    SELECT greatest({_IVFPQ_SHORTLIST_MIN},
                    count(*) // {_IVFPQ_SHORTLIST_DIV}) AS sk
    FROM embeddings
),
short AS (
    SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc, cand_id
        ) AS srk
        FROM adc
    ), nshort
    WHERE srk <= sk
),
rer AS (
    SELECT sh.query_id, sh.cand_id,
           round(CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) > 0
                       AND sqrt(list_dot_product(e.cv, e.cv)) > 0
                      THEN list_dot_product(q.qv, e.cv)
                           / (sqrt(list_dot_product(q.qv, q.qv))
                              * sqrt(list_dot_product(e.cv, e.cv)))
                      ELSE 0.0 END, 6) AS cosine
    FROM short sh
    JOIN (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings) q
      ON q.vec_id = sh.query_id
    JOIN (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) e
      ON e.vec_id = sh.cand_id
)
SELECT query_id, cand_id, cosine, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rk
    FROM rer
)
WHERE rk <= {_TOP_K}
"""


def _ivfpq_nv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, nv): L2-normalized double vectors — the shared input
    grain for residual computation on both the data and query side."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    # single-parse F.expr (r13, guide §5/§7.3): same arithmetic as the
    # former python-lambda HOF chain (double cast, 0D-seeded sum of
    # squares, 1e-300 floor), one JVM parse instead of 3 lambda setups
    return emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).select(
        "vec_id",
        F.expr(
            "transform(v, x -> x / greatest("
            "sqrt(aggregate(v, 0D, (a, b) -> a + b * b)), 1E-300))"
        ).alias("nv"),
    )


def _ivf_ncent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, ncv): the coarse quantizer's centroids as arrays — the
    residual reference frame (nlist rows, broadcast).  The centroid is
    the RAW per-label mean exactly as the quantizer stores it (FAISS
    encodes residuals against the coarse centroid as-is); an earlier
    r13 draft L2-normalized it first, which INFLATED residual energy
    ~1.6x on this corpus (loose cells, member-centroid cos ~0.2) and
    collapsed sf1i recall to 0.40 — measured in the r13 numpy sweep,
    see SCALE.md findings.

    Memoized + persisted per (session, sf) — r13, guide §2.4: nlist
    rows, but previously re-aggregated from the quantizer by every
    consumer action (subvec build + the per-run query-residual side of
    `ann_ivfpq_adc_topk`)."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        return (
            _ivf_quantizer(spark, sf_dir)
            .groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "cx"))),
                    lambda s: s["cx"],
                ).alias("ncv")
            )
        )

    return session_persist(spark, f"ivf.ncent.{tag}", build)


def _ivfpq_slice(df: DataFrame, *keys: str) -> DataFrame:
    """Explode an `rv` residual-array column into (keys…, m, sv)
    subspace views — the PQ training/encoding grain.  Single-parse
    (r13, guide §5): same transform/struct/slice arithmetic as the
    former python-lambda chain."""
    return df.select(
        *keys,
        F.expr(
            f"explode(transform(sequence(0, {_IVFPQ_M - 1}), "
            f"m -> struct(CAST(m AS INT) AS m, "
            f"slice(rv, m * {_IVFPQ_SUB_D} + 1, {_IVFPQ_SUB_D}) AS sv)))"
        ).alias("s"),
    ).select(*keys, "s.m", "s.sv")


def _ivfpq_subvecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv): RESIDUAL subvectors — each vector's normalized
    form minus its ASSIGNED cell's coarse centroid (the raw quantizer
    mean, by_residual=true), sliced into _IVFPQ_M subspace views.  Training
    and encoding both run at this grain, exactly like FAISS IVFPQ's
    default: the PQ models the within-cell displacement, not the raw
    position, so codebook capacity is spent where the probe already
    landed."""
    nv = _ivfpq_nv(spark, sf_dir)
    ncent = _ivf_ncent(spark, sf_dir)
    rv = (
        nv.join(_ivf_cells(spark, sf_dir), "vec_id")
        .join(
            F.broadcast(ncent), F.col("cell") == F.col("label")
        )
        .select(
            "vec_id",
            F.expr("zip_with(nv, ncv, (a, b) -> a - b)").alias("rv"),
        )
    )
    return _ivfpq_slice(rv, "vec_id")


def _ivfpq_dist() -> "F.Column":
    """round_stable(Σ(sv-cv)², 6) — the engine twin of
    _IVFPQ_DIST_SQL; rounding BEFORE every argmin keeps the Lloyd
    trajectory and the encoding engine-deterministic.  Single parse
    (r13, guide §5): identical fold/seed/floor-round arithmetic."""
    return F.expr(
        "floor(aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x) * 1000000.0D + 0.5D) / 1000000.0D"
    )


def _ivfpq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, c, cv): the trained PQ codebook over RESIDUAL subvectors
    (by_residual=true) — _IVFPQ_ITERS deterministic Lloyd rounds per
    subspace, all M subspaces in ONE chained plan keyed by m (the
    broadcast centroid frame is M×K rows).  Memoized + persisted per
    (session, sf): at 100 TB this is a trained model artifact
    (M·K·sub_d doubles), built once at ingest."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        pts = tracked_persist(
            _ivfpq_subvecs(spark, sf_dir), f"ivfpq.subvecs.{tag}"
        )
        cent = pts.filter(F.col("vec_id") < _IVFPQ_K).select(
            "m", F.col("vec_id").cast("int").alias("c"), F.col("sv").alias("cv")
        )
        dist = _ivfpq_dist()
        for _ in range(_IVFPQ_ITERS):
            a = (
                pts.join(F.broadcast(cent), "m")
                .select("vec_id", "m", "sv", "c", dist.alias("d"))
                .groupBy("vec_id", "m")
                .agg(
                    F.min(F.struct("d", "c")).alias("best"),
                    F.first("sv").alias("sv"),
                )
                .select("m", F.col("best.c").alias("c"), "sv")
            )
            means = (
                a.select("m", "c", F.posexplode("sv").alias("i", "x"))
                .groupBy("m", "c", "i")
                .agg(F.avg("x").alias("mu"))
                .groupBy("m", "c")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "mu"))),
                        lambda s: s["mu"],
                    ).alias("cv_new")
                )
            )
            cent = (
                cent.join(means, ["m", "c"], "left")
                .select("m", "c", F.coalesce("cv_new", "cv").alias("cv"))
                .localCheckpoint()
            )
        pts.unpersist()
        return cent

    return session_persist(spark, f"ivfpq.codebook.{tag}", build)


def _ivfpq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, m, c): the PQ-encoded corpus — each vector's
    RESIDUAL subvector's nearest trained centroid per subspace (6dp
    distance, code-asc ties), keyed by its IVF cell.  Memoized +
    persisted per (session, sf): THE compressed index payload (M small
    codes per vector, stored BY CELL — the 100 TB scan artifact is
    cell-partitioned code storage, so the cell key lives in the build,
    not in a per-run join; r13, guide §2.4)."""
    tag = dataset_tag(sf_dir)

    def build() -> DataFrame:
        return (
            _ivfpq_subvecs(spark, sf_dir)
            .join(F.broadcast(_ivfpq_codebook(spark, sf_dir)), "m")
            .select("vec_id", "m", "c", _ivfpq_dist().alias("d"))
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("d", "c")).alias("best"))
            .select("vec_id", "m", F.col("best.c").alias("c"))
            .join(_ivf_cells(spark, sf_dir), "vec_id")
            .select("vec_id", "cell", "m", "c")
        )

    return session_persist(spark, f"ivfpq.codes.{tag}", build)


@register(
    "ann_ivfpq_adc_topk",
    survey="similarity,S15 (extension: composed IVF+PQ index — probe-restricted ADC)",
    oracle=_ivfpq_oracle(),
    bench=True,
)
def ann_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN index (FAISS IVF_nlist,PQ_M shape,
    by_residual=true — the FAISS default): the coarse IVF quantizer
    prunes the corpus to the margin-adaptive probe set (`ann_ivf_topk`'s
    exact rule), the probed cells are scanned over PQ CODES ONLY via an
    ADC lookup table, and the ADC shortlist is re-ranked with exact
    cosine.  The PQ trains and encodes on RESIDUALS — each vector's
    normalized form minus its assigned cell's normalized centroid — so
    the codebook models the within-cell displacement; at search time
    the LUT is per-(query, probed cell) (M×K exact residual-subvector →
    centroid distances per probed cell; per candidate still M integer
    lookups + a fold — no float vector math at scan grain).  r13: was
    by_residual=false; residual encoding lifted the decorrelated-axis
    (sf1i) recall, the thinnest floor margin in the family (SCALE.md).

    Unlike the corpus-wide flat twin (`ann_pq_adc_topk`, rows-only),
    this one is ORACLE-BACKED end to end: the per-subspace codebooks
    are deterministic Lloyd (K smallest vec_ids' subvectors as init,
    _IVFPQ_ITERS rounds, every distance floor-rounded at 6dp before
    every argmin) replayed as unrolled CTEs — the
    `kmeans_lloyd_deterministic` / PageRank / BPE finite-iteration
    pattern — and the probe set is `_ivf_oracle`'s assign block
    verbatim.

    Laws (tests/test_similarity_paths.py): per-query scanned-code
    count ties cell-exactly to `ivf_probe_cost_profile`'s
    candidates_scanned (the composed index's scan fraction is the
    probe profile's — strictly below the flat twin's corpus scan);
    recall@5 vs brute force ≥ the repo ANN floor, and the result set
    is contained in the probed cells' membership.  The scale probe
    pins recall ≥ 0.6 on BOTH axes (tools/scale_probe.py --recall).

    Scale shape: codebook and codes are session-persisted ingest
    artifacts (M×K×sub_d model; M codes/vector — the 64× memory cut);
    a query's scan is |probe set| cells of codes joined to a broadcast
    320-row LUT, grouped map-side; the exact re-rank reads full
    vectors for shortlist×|Q| rows only, via an equi-join on vec_id.
    At 100 TB with cell-partitioned code storage the probe prunes
    partitions exactly as `ann_ivf_partition_pruned` demonstrates."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    # bounded scalar for shortlist sizing — parquet-footer count (r13:
    # was emb.count(), a full corpus-scan job per run; guide §5)
    n_vecs = _emb_count(spark, sf_dir)
    shortlist_k = max(
        _IVFPQ_SHORTLIST_MIN, n_vecs // _IVFPQ_SHORTLIST_DIV
    )

    codes = _ivfpq_codes(spark, sf_dir)
    cb = _ivfpq_codebook(spark, sf_dir)
    assign = _ivf_probe_assign(spark, sf_dir, min_probes=1, cap=_IVF_CAP)
    # per-(query, probed-cell) LUT: the query's RESIDUAL relative to
    # each probed cell's centroid (by_residual=true), scored against
    # the trained codebook — exact (6dp) subvector→centroid distances,
    # |assign|×M×K rows — broadcast
    qrv = (
        _ivfpq_nv(spark, sf_dir)
        .filter(F.col("vec_id") < _N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(assign, "query_id")
        .join(
            F.broadcast(_ivf_ncent(spark, sf_dir)),
            F.col("probe_label") == F.col("label"),
        )
        .select(
            "query_id",
            "probe_label",
            F.expr("zip_with(nv, ncv, (a, b) -> a - b)").alias("rv"),
        )
    )
    lut = (
        _ivfpq_slice(qrv, "query_id", "probe_label")
        .join(F.broadcast(cb), "m")
        .select(
            "query_id", "probe_label", "m", "c", _ivfpq_dist().alias("d2")
        )
    )
    cand = codes.select(
        F.col("vec_id").alias("cand_id"),
        F.col("cell").alias("probe_label"),
        "m",
        "c",
    )
    adc = (
        assign.join(cand, "probe_label")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "probe_label", "m", "c"])
        .groupBy("query_id", "cand_id")
        .agg(
            F.expr(
                "floor(sum(d2) * 1000000.0D + 0.5D) / 1000000.0D"
            ).alias("adc")
        )
    )
    short = topk_ranked(
        adc, "PARTITION BY query_id ORDER BY adc ASC, cand_id ASC", shortlist_k
    ).select("query_id", "cand_id")
    cv = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    pairs = short.join(_query_panel(emb.drop("label")), "query_id").join(cv, "cand_id")
    return topk_ranked(_exact_cosine(pairs), _BY_COSINE, _TOP_K)


# --- the maintenance decision EXECUTED ----------------------------------------


def _ivf_maintenance_execute_oracle() -> str:
    """Composed from the shared SQL pieces VERBATIM: the filing + drift
    core (`_IVF_DELTA_CELLS_SQL` / `_IVF_DRIFT_CORE_SQL` — the
    decision's own admission arithmetic), the retrain's flagged-scope
    refile (`_IVF_RETRAIN_REFILE_SQL`, byte-shared with
    `_IVF_RETRAIN_ORACLE`), and the FAISS split body
    (`_ivf_refile_body_sql`, the exact `ivf_refile_oversized` /
    `ivf_append_refile` algorithm) with its admission parameter set to
    the decision's refile cells (due − retrain-claimed).  The retrain
    block's CTEs carry an rt_ prefix (r13, advisor) so the inner
    split subquery's names (own/sizes/tot/refile/halves/sub_cent/
    resc/refiled/kept/final/g) can never collide with the outer
    scope — no reliance on DuckDB's innermost-first resolution."""
    split_body = _ivf_refile_body_sql(
        "SELECT cell FROM due WHERE cell NOT IN (SELECT cell FROM flagged)"
    )
    return f"""
WITH {_IVF_DELTA_CELLS_SQL.strip()},
memb AS (
    SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_after
    FROM v_cell GROUP BY cell
),
{_IVF_DRIFT_CORE_SQL},
flagged AS (SELECT cell FROM drift WHERE codebook_cosine < {_IVF_DRIFT_TAU}),
due AS (
    SELECT m.cell FROM memb m,
         (SELECT CAST(count(*) AS BIGINT) AS ncells,
                 CAST(sum(n_after) AS BIGINT) AS total FROM memb) t
    WHERE m.n_after * t.ncells * 10 > {_REFILE_NUM} * t.total
),
{_IVF_RETRAIN_REFILE_SQL},
retrain_rows AS (
    SELECT CAST(f.cell AS BIGINT) * 10 AS new_cell,
           CAST(f.cell AS BIGINT) AS parent_cell,
           'retrain' AS action,
           CAST(COALESCE(an.n, 0) AS BIGINT) AS n_vecs
    FROM flagged f
    LEFT JOIN (
        SELECT cell, CAST(count(*) AS BIGINT) AS n FROM rt_refiled GROUP BY cell
    ) an ON an.cell = f.cell
),
refile_rows AS (
    SELECT new_cell, parent_cell, 'refile' AS action, n_vecs
    FROM (
        WITH {split_body}
    ) t
    WHERE t.was_split
),
wait_rows AS (
    SELECT m.cell * 10 AS new_cell, m.cell AS parent_cell,
           'wait' AS action, m.n_after AS n_vecs
    FROM memb m
    WHERE m.cell NOT IN (SELECT cell FROM flagged)
      AND m.cell NOT IN (SELECT cell FROM due)
)
SELECT * FROM retrain_rows
UNION ALL SELECT * FROM refile_rows
UNION ALL SELECT * FROM wait_rows
"""


@register(
    "ivf_maintenance_execute",
    survey="similarity,S15,S16 (extension: the maintenance decision EXECUTED)",
    oracle=_ivf_maintenance_execute_oracle(),
)
def ivf_maintenance_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision's EXECUTOR — one maintenance cycle applied to the
    post-append inverted file, closing the loop the repo discipline
    demands (every signal a consumer, every decision an executor):
    `ivf_maintenance_decision` says retrain / refile / wait per cell,
    and this query DOES it, by calling the registered actions on the
    decision's exact cell sets —

    - retrain cells → `ivf_codebook_retrain`'s retrained audit rows
      (refit to member means + flagged-scope refile), reported at
      their ×10 unsplit ids with the post-retrain membership;
    - refile cells → the FAISS split (`_refile_oversized_impl` with
      the decision's refile set as the admission — the same code path
      as `ivf_refile_oversized` / `ivf_append_refile`, now
      parameterized instead of recomputing the 110% rule);
    - wait cells → pass through with their post-append counts.

    Output: one row per FINAL cell in the refile's ×10 id space
    (parent·10 for unsplit, parent·10+1+half for split halves) with
    the action lineage and membership — the post-cycle inverted file's
    occupancy table.

    Laws (tests/test_similarity_paths.py): each branch's parent set
    equals the decision's action set cell-exactly; retrain rows equal
    the retrain action's retrained (cell, n_after) rows; split halves
    conserve their parent's post-append membership; wait rows pass
    n_after through; Σ n_vecs == corpus.

    Scale shape: strictly the union of its components' shapes — the
    decision is O(cells) metadata, the retrain touches flagged-scope
    members, the split touches decision-refile-scope members, and all
    three read the session-shared post-append frames.  Nothing rescans
    the unflagged, un-crowded corpus."""
    from .registry import REGISTRY

    dec = REGISTRY["ivf_maintenance_decision"].fn(spark, sf_dir).select(
        "cell", "action", "n_after"
    )
    rt = (
        REGISTRY["ivf_codebook_retrain"].fn(spark, sf_dir)
        .filter(F.col("retrained"))
        .select(
            (F.col("cell") * 10).cast("bigint").alias("new_cell"),
            F.col("cell").cast("bigint").alias("parent_cell"),
            F.lit("retrain").alias("action"),
            F.col("n_after").cast("bigint").alias("n_vecs"),
        )
    )
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    cells = _ivf_post_append_filing(spark, sf_dir).select("vec_id", "cell")
    cent_own = _ivf_frozen_quantizer(spark, sf_dir).select(
        F.col("label").alias("cell"), "i", "cx"
    )
    admission = dec.filter(F.col("action") == "refile").select("cell")
    rf = (
        _refile_oversized_impl(
            emb, cells, cent_own, "ivf_exec", admission=admission
        )
        .filter(F.col("was_split"))
        .select(
            "new_cell",
            "parent_cell",
            F.lit("refile").alias("action"),
            "n_vecs",
        )
    )
    wt = dec.filter(F.col("action") == "wait").select(
        (F.col("cell") * 10).cast("bigint").alias("new_cell"),
        F.col("cell").cast("bigint").alias("parent_cell"),
        F.lit("wait").alias("action"),
        F.col("n_after").cast("bigint").alias("n_vecs"),
    )
    return rt.unionByName(rf).unionByName(wt)


# --- the cycle's FIXPOINT audited ---------------------------------------------


def _ivf_post_cycle_audit_oracle() -> str:
    """Composed VERBATIM from the executor's oracle (the decision
    discipline: a downstream table can never drift from the state it
    audits) with the decision's own 110% admission arithmetic replayed
    on the POST-cycle occupancy."""
    from .registry import REGISTRY

    ex = REGISTRY["ivf_maintenance_execute"].oracle
    return f"""
WITH exec AS ({ex})
SELECT new_cell, parent_cell, action, n_vecs,
       (n_vecs * count(*) OVER () * 10)
           > ({_REFILE_NUM} * sum(n_vecs) OVER ()) AS refile_due_next,
       ((n_vecs * count(*) OVER () * 10)
           > ({_REFILE_NUM} * sum(n_vecs) OVER ())
        AND action <> 'wait') AS executed_reflagged
FROM exec
"""


@register(
    "ivf_post_cycle_audit",
    survey="similarity,S15 (extension: maintenance-cycle fixpoint audit)",
    oracle=_ivf_post_cycle_audit_oracle(),
)
def ivf_post_cycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop's CONVERGENCE surface (r12 verdict #2):
    after `ivf_maintenance_execute` applies one cycle, this table
    replays the decision's refile admission on the post-cycle
    occupancy — per final cell, does the flag PERSIST?

    The fixpoint law it carries (tests/test_similarity_paths.py::
    test_ivf_maintenance_cycle_convergence): `executed_reflagged` is
    FALSE everywhere — no cell the cycle acted on (retrain or split)
    re-crosses the 110% admission, and retrained cells can never
    re-trigger the drift arm (refit centroid == member mean →
    codebook_cosine_after = 1.0; `ivf_codebook_retrain.still_flagged`
    is the measured witness).  `refile_due_next` MAY be true for WAIT
    cells: splitting the crowded tier grows ncells, which LOWERS the
    110%-of-mean bar and exposes the next-most-crowded tier — that is
    the loop's designed cycle-over-cycle walk toward balance (each
    exposed cell was under the bar pre-cycle at the old ncells), not a
    failed fix.  The law pins both directions: executed cells all
    read wait-equivalent, and every persisting flag is growth-exposed.

    Scale shape: a window pair over the executor's O(cells) output —
    the audit itself is metadata-grain at any corpus size, like the
    decision it closes."""
    from .registry import REGISTRY

    ex = REGISTRY["ivf_maintenance_execute"].fn(spark, sf_dir)
    wall = Window.partitionBy()
    due_next = (
        F.col("n_vecs") * F.count(F.lit(1)).over(wall) * F.lit(10)
        > F.lit(_REFILE_NUM) * F.sum("n_vecs").over(wall)
    )
    return ex.select(
        "new_cell",
        "parent_cell",
        "action",
        "n_vecs",
        due_next.alias("refile_due_next"),
        (due_next & (F.col("action") != F.lit("wait"))).alias(
            "executed_reflagged"
        ),
    )
