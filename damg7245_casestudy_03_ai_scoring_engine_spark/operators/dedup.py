"""Deduplication operators for large-scale training-data pipelines —
the LLM-data extension set (BASELINE.json north star), over the
`documents` table.

Four families, all engine-agnostic in their hashing (md5 hex strings
/ md5-derived 32-bit ints) so the DuckDB oracle replays them exactly:

- exact dedup on canonicalized content (bag-of-words hash),
- MinHash + LSH banding (shingle → k minhashes → bands → bucket
  join → verified jaccard),
- n-gram jaccard brute force (blocked by lang),
- SimHash (32-bit) with hamming-distance pairing.

Scale posture: minhash/LSH is the 100 TB path — the candidate join is
on (band_idx, band_hash), so cost is proportional to true collisions,
not n².  The brute-force variants are oracle anchors and work within
blocking partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cache import tracked_persist
from ..sources.catalog import load
from .registry import register

# --- shared token/shingle derivations (mirrored in oracle SQL) -------------


def _tokens(text_col):
    return F.split(F.trim(text_col), r"\s+")


# SQL twin of `_tokens(F.col("text"))` — '\\s+' parses to the same
# \s+ regex literal under default escapedStringLiterals=false.
_TOKENS_SQL = r"split(trim(text), '\\s+')"


def _word_shingles3_sql(ws: str) -> str:
    """Distinct word-3-gram shingles; whole text if fewer than 3 tokens.

    Built from three equal-length (n-2) per-ROW slices zipped
    together, not `transform(sequence, i -> element_at×3)`: each
    element_at reference re-evaluates the token-split subtree PER
    ELEMENT inside the HOF lambda (no CSE inside lambdas), which made
    shingling the dominant cold cost of the whole dedup family —
    3.1 s vs 0.45 s for this form at sf0.1 (6M shingles, measured
    r4).  r13 (guide §5/§7.3): composed as ONE SQL fragment — the
    former Column build's two python lambdas cost ~60 ms of py4j
    setup per construction; the repeated `{ws}` subtree mirrors how
    the Column version reused one expression object (same plan)."""
    n = f"size({ws})"
    a = f"slice({ws}, 1, {n} - 2)"  # w_i
    b = f"slice({ws}, 2, {n} - 2)"  # w_{i+1}
    c = f"slice({ws}, 3, {n} - 2)"  # w_{i+2}
    ab = f"zip_with({a}, {b}, (x, y) -> concat_ws(' ', x, y))"
    grams = f"zip_with({ab}, {c}, (xy, z) -> concat_ws(' ', xy, z))"
    return (
        f"CASE WHEN {n} >= 3 THEN array_distinct({grams}) "
        f"ELSE array(concat_ws(' ', {ws})) END"
    )


def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    return d.select(
        "doc_id", F.expr(_word_shingles3_sql(_TOKENS_SQL)).alias("shingles")
    )


_SHINGLES_SQL = r"""
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
),
sh AS (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN list_distinct(list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                ELSE [array_to_string(ws, ' ')] END AS shingles
    FROM toks
)"""


# --- 1. exact dedup --------------------------------------------------------


@register(
    "dedup_exact",
    survey="S18,U3,F5",
    oracle=r"""
SELECT md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' '))
           AS bow_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_members
FROM documents
GROUP BY 1
HAVING count(*) > 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on canonicalized content: hash of the sorted
    distinct token set (catches word-reordered copies).  One
    hash-groupBy — the distributed form of the reference's
    content_hash existence probe (signal_store.py:21-28)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    bow = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens(F.col("text")))))
    )
    return (
        d.select(bow.alias("bow_hash"), "doc_id")
        .groupBy("bow_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


# --- 2. MinHash + LSH ------------------------------------------------------

_K = 9  # minhashes
_BANDS = 3  # bands of 3 rows each
_P = 4294967311  # smallest prime > 2^32 — modulus for the hash permutations

# The MinHash signature, replayed by the oracles' hashed/mh CTEs: one
# md5 per shingle mapped to a base hash mod _P, then _K cheap integer
# permutations (2s+1)·h + (17s+7) mod _P of it, min per permutation.
# Single-parse SQL (r13, guide §5/§7.3): no per-build py4j lambda setup.
_BASE_HASH_SQL = (
    "transform(shingles, x -> "
    f"CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % {_P})"
)
_SIGNATURE_SQL = (
    f"transform(sequence(0, {_K - 1}), s -> "
    f"array_min(transform(hs, h -> ((2 * s + 1) * h + (17 * s + 7)) % {_P})))"
)


def _minhash_bands(hashed: DataFrame) -> DataFrame:
    """(doc_id, …, b, band_hash) from a (doc_id, shingles, hs, …)
    frame: one row per (doc, band), the band's signature values joined
    by '|'.  Any other column rides along (incremental_lsh_probe's
    is_delta)."""
    keep = [c for c in hashed.columns if c not in ("shingles", "hs")]
    rows = _K // _BANDS
    b = F.explode(F.sequence(F.lit(0), F.lit(_BANDS - 1))).alias("b")
    band_hash = F.concat_ws(
        "|",
        *(
            F.element_at("sig", F.col("b") * rows + i).cast("string")
            for i in range(1, rows + 1)
        ),
    )
    return (
        hashed.select(*keep, F.expr(_SIGNATURE_SQL).alias("sig"))
        .select(*keep, b, "sig")
        .select(*keep, "b", band_hash.alias("band_hash"))
    )


def _jaccard_verified(cand: DataFrame, hashed: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard, …): (doc_a, doc_b) candidates verified
    on their exact shingle-set jaccard (6 dp, kept at ≥ 0.5).  Any
    other column of `hashed` comes along once per side, suffixed
    _a / _b (incremental_lsh_probe's is_delta)."""
    extra = [c for c in hashed.columns if c not in ("doc_id", "shingles", "hs")]

    def side(s: str) -> DataFrame:
        return hashed.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("shingles").alias(f"sh_{s}"),
            *(F.col(c).alias(f"{c}_{s}") for c in extra),
        )

    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0))
    return (
        cand.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard, 6).alias("jaccard"),
            *(f"{c}_{s}" for c in extra for s in "ab"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "dedup_minhash_lsh",
    survey="S18,S20,F5 (extension; persist = the cache/materialization analog)",
    bench=True,
    oracle=rf"""
WITH {_SHINGLES_SQL.lstrip()},
hashed AS (
    SELECT doc_id, shingles,
           list_transform(shingles,
               x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_P}) AS hs
    FROM sh
),
mh AS (
    SELECT doc_id,
           list_transform(range(0, {_K}),
               s -> list_min(list_transform(hs, h -> ((2*s + 1) * h + (17*s + 7)) % {_P})))
               AS sig
    FROM hashed
),
bands AS (
    SELECT doc_id, b,
           CAST(sig[b*3+1] AS VARCHAR) || '|' || CAST(sig[b*3+2] AS VARCHAR)
               || '|' || CAST(sig[b*3+3] AS VARCHAR) AS band_hash
    FROM mh, (SELECT unnest(range(0, {_BANDS})) AS b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM bands a
    JOIN bands b2 ON a.b = b2.b AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
             AS jaccard
    FROM cand c
    JOIN sh sa ON c.doc_a = sa.doc_id
    JOIN sh sb ON c.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
FROM verified
WHERE round(jaccard, 6) >= 0.5
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: word-3-gram shingles → k=9
    md5-minhashes → 3 bands of 3 → band-bucket join → jaccard-verified
    pairs ≥ 0.5.

    Hashing is one md5 per shingle mapped to a 32-bit int, with the
    k minhashes as cheap integer permutations `(a·h + b) mod p` of
    that base hash (engine-agnostic arithmetic the oracle replays
    exactly).  The LSH join cost scales with bucket collisions, not
    n² — this is the operator you run at 100 TB, with the band join
    shuffling only (band_idx, band_hash, doc_id)."""
    sh = _shingled_docs(spark, sf_dir)
    # Persisted: feeds three consumers (band generation + both sides of
    # the jaccard verify); without materialization Catalyst re-derives
    # the whole tokenize->shingle->md5 lineage for each.  At scale the
    # same role is played by checkpointing the signature table.
    hashed = tracked_persist(
        sh.select("doc_id", "shingles", F.expr(_BASE_HASH_SQL).alias("hs")),
        "dedup_minhash_lsh.hashed",
    )
    # Persisted (r13, guide §2.4): both sides of the band-bucket
    # self-join consume this frame, and without materialization each
    # side re-derives the k=9 minhash permutations over every shingle
    # list from the cached `hashed` silver — the signature pass ran
    # twice per invocation.
    bands = tracked_persist(_minhash_bands(hashed), "dedup_minhash_lsh.bands")
    left = bands.select(F.col("doc_id").alias("doc_a"), "b", "band_hash")
    right = bands.select(F.col("doc_id").alias("doc_b"), "b", "band_hash")
    cand = (
        left.join(right, ["b", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _jaccard_verified(cand, hashed)


# --- 3. n-gram jaccard brute force (blocked) -------------------------------

# Word-set jaccard at which two same-language docs are near duplicates
# (dedup_ngram_jaccard, dedup_clusters; their oracles spell 0.95).
_NEAR_DUP_T = 0.95


@register(
    "dedup_ngram_jaccard",
    survey="S18 (extension)",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, lang,
           list_distinct(string_split_regex(trim(text), '\s+')) AS ws
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.ws, b.ws))::DOUBLE
             / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) AS jaccard
FROM toks a
JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.ws, b.ws))::DOUBLE
            / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) >= 0.95
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set jaccard near-dup pairs ≥ 0.95 within a language.

    Candidate generation is EXACT prefix filtering (the All-Pairs /
    PPJoin bound), not a lang-blocked n² self-join: order every token
    by global rarity (document frequency, ties by token); if
    jaccard(A,B) ≥ t, then A and B must share at least one token among
    each side's `|X| - ceil(t·|X|) + 1` rarest tokens.  Candidates are
    therefore an EQUI-JOIN of the two prefix relations on the token —
    shuffle volume scales with prefix df, not n² — followed by the
    exact jaccard verify and a `t·|B| ≤ |A|` length filter.  Unlike
    MinHash banding this loses NOTHING: recall is provably 1.0, so the
    brute-force oracle matches bit-for-bit."""
    return _jaccard_pairs_prefix(spark, sf_dir, t=_NEAR_DUP_T)


def _jaccard_pairs_prefix(spark: SparkSession, sf_dir: str, t: float) -> DataFrame:
    """Shared same-lang word-set jaccard ≥ t pair generator (prefix
    candidates + exact verify) — feeds both the pair query and the
    cluster resolution."""
    d = load(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", "lang", F.array_distinct(_tokens(F.col("text"))).alias("ws")
    )
    # Two consumers (prefix build + verify join); materialize the
    # tokenized form once.
    d = tracked_persist(d, "dedup_ngram_jaccard.tokens")
    prefix = _rare_prefix(d, threshold=t)
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.w") == F.col("pb.w"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.col("pa.lang") == F.col("pb.lang"))
            # length filter: jaccard ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|)
            & (F.col("pa.n") >= F.ceil(F.lit(t) * F.col("pb.n")))
            & (F.col("pb.n") >= F.ceil(F.lit(t) * F.col("pa.n"))),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    inter = F.size(F.array_intersect("ws_a", "ws_b")).cast("double")
    union = (F.size("ws_a") + F.size("ws_b") - F.size(F.array_intersect("ws_a", "ws_b"))).cast(
        "double"
    )
    jac = F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


def _containment_shingled64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment family's persisted silver: non-empty shingle
    sets carried as xxhash64 int64 arrays (set sizes and intersection
    cardinalities are invariant under an injective mapping; primitive
    longs make dfreq/explode/array_intersect run without string
    comparisons)."""
    return tracked_persist(
        _shingled_docs(spark, sf_dir)
        .filter(F.size("shingles") > 0)
        .select(
            "doc_id",
            F.expr("transform(shingles, s -> xxhash64(s))").alias("shingles"),
        ),
        "dedup_containment.shingled64",
    )


def containment_prefix_candidate_count(spark: SparkSession, sf_dir: str) -> int:
    """Pre-verify candidate-pair count of `dedup_containment_prefix`
    at `sf_dir` — the scale probe records this per axis so a
    superlinear wall can be attributed to candidate growth vs
    join-strategy decay (the two look identical in a wall-ratio
    table; they need opposite fixes)."""
    sh = _containment_shingled64(spark, sf_dir)
    return _containment_prefix_candidates(spark, sh, t=0.8).count()


def _containment_prefix_candidates(
    spark: SparkSession, sh: DataFrame, t: float
) -> DataFrame:
    """Candidate (doc_contained, doc_container) pairs for prefix-
    filtered containment: the contained side's rare-prefix relation
    equi-joined against the container side's FULL inverted index.
    Exposed as a helper so tools/scale_probe.py can count the
    candidate set per scale axis — wall-ratio tables alone cannot
    distinguish candidate growth from join-strategy decay."""
    prefix_a = _rare_prefix(sh, threshold=t, items_col="shingles")
    all_b = sh.select(
        F.col("doc_id").alias("doc_container"),
        F.size("shingles").alias("n_b"),
        F.explode("shingles").alias("w"),
    )
    return (
        prefix_a.join(
            all_b,
            (prefix_a.w == all_b.w)
            & (prefix_a.doc_id != all_b.doc_container)
            & (prefix_a.n < all_b.n_b),
        )
        .select(F.col("doc_id").alias("doc_contained"), "doc_container")
        .distinct()
        # The candidate list is tiny in BYTES but each surviving row
        # pays an array_intersect over full shingle arrays in the
        # verify join — AQE's byte-based coalescing would serialize
        # that onto 1-2 tasks, so spread the pairs explicitly.
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _rare_prefix(d: DataFrame, threshold: float, items_col: str = "ws") -> DataFrame:
    """Per-doc prefix relation for prefix filtering: the
    `n - ceil(threshold·n) + 1` globally-rarest items of each doc,
    one row per (doc_id[, lang], w, n).  Rarity order = (document
    frequency, item) — any GLOBAL total order is correct; df-order
    minimizes candidate-join fan-out because prefix tokens are the
    rare ones."""
    key_cols = [c for c in ("doc_id", "lang") if c in d.columns]
    tok = d.select(*key_cols, F.size(items_col).alias("n"), F.explode(items_col).alias("w"))
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    by_rarity = Window.partitionBy("doc_id").orderBy("df", "w")
    ranked = tok.join(dfreq, "w").select(
        *key_cols, "n", "w", F.row_number().over(by_rarity).alias("rn")
    )
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    return ranked.filter(F.col("rn") <= prefix_len).drop("rn")


# --- 3b. connected-component dedup clusters --------------------------------

_PAIRS_SQL = r"""
toksj AS (
    SELECT doc_id, lang,
           list_distinct(string_split_regex(trim(text), '\s+')) AS ws
    FROM documents
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM toksj a
    JOIN toksj b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.ws, b.ws))::DOUBLE
                / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) >= 0.95
)"""


@register(
    "dedup_clusters",
    survey="S18,U3 (extension: pair→cluster resolution)",
    oracle=rf"""
WITH RECURSIVE {_PAIRS_SQL.lstrip()},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, m) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (
    SELECT node AS doc_id, min(m) AS comp_id FROM reach GROUP BY node
)
SELECT doc_id, comp_id,
       CAST(count(*) OVER (PARTITION BY comp_id) AS BIGINT) AS n_members,
       doc_id = comp_id AS is_canonical
FROM cc
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS — the last stage of a
    dedup pipeline: pairs (word-set jaccard ≥ 0.95, lang-blocked) form
    an undirected graph; each doc gets its connected component's min
    doc_id as cluster id, and the min member is the canonical doc to
    keep.  Pair generation shares the prefix-filtered candidate
    equi-join with `dedup_ngram_jaccard` (recall provably 1.0), never
    a blocked theta join.

    Spark shape: iterative min-label propagation (the GraphX /
    large-star algorithm's simple form) — each round joins current
    labels to the edge list and takes the per-node min, converging in
    graph-diameter rounds.  Near-dup clusters are shallow (diameter
    ≤ ~3 in practice), so 100 TB runs converge in a handful of
    shuffles, each a (node, comp) join — no driver-side graph.  The
    DuckDB oracle replays it as a recursive reachability CTE."""
    pairs = _jaccard_pairs_prefix(spark, sf_dir, t=_NEAR_DUP_T).select("doc_a", "doc_b")
    # localCheckpoint (not persist): each round's plan must TRUNCATE,
    # or the logical plan nests one level deeper per iteration and
    # driver-side analysis comes to dominate the loop (measured 24 s →
    # ~8 s at sf0.01).  At cluster scale the same role is played by
    # reliable checkpointing to HDFS/object storage.
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    while True:
        prop = (
            edges.join(labels, edges.a == labels.node)
            .select(F.col("b").alias("node"), "comp")
        )
        # non-eager: the changed-count action below materializes the
        # checkpoint — one job per iteration instead of two
        new_labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    w = Window.partitionBy("comp")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("comp_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_members"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )


# --- 4. SimHash ------------------------------------------------------------

_SIMHASH_BITS = 32


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — the persisted signature silver table SHARED
    by the brute-force baseline and its banded scale twin: one
    tokenize → md5 → bit-vote scan feeds the n² anchor, the band
    explode, and both verify sides (plan-pinned in
    tests/test_plans.py::test_simhash_twins_share_signature_cache).
    At scale this is the checkpointed signature table both jobs read."""
    d = load(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.array_distinct(_tokens(F.col("text"))).alias("ws")
    )
    tok = d.select("doc_id", F.explode("ws").alias("w"))
    wh = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint").alias("h"),
    )
    bits = (
        wh.select(
            "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr("(h >> b) & 1") == 1, 1).otherwise(-1)
            ).alias("s")
        )
    )
    sim = bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("simhash")
    )
    return tracked_persist(sim, "dedup_simhash.sim")


@register(
    "dedup_simhash",
    survey="S18,F5 (extension)",
    oracle=rf"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS w
    FROM documents
),
wh AS (
    SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM tok
),
bits AS (
    SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM wh, (SELECT unnest(range(0, {_SIMHASH_BITS})) AS b)
    GROUP BY doc_id, b
),
sim AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over distinct tokens (word hash = first 8 md5
    hex digits as int32) with hamming ≤ 3 pairing.  At scale the pair
    join is blocked by simhash bit-bands (pigeonhole); here the n²
    join over 500 docs is the oracle-checkable baseline.  Reads the
    same persisted signature frame as `dedup_simhash_banded`."""
    sim = _simhash_signatures(spark, sf_dir)
    a = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


# --- 4b. SimHash, banded scale path ----------------------------------------

_SIM_BANDS = 4  # 4 bands × 8 bits; hamming ≤ 3 ⟹ ≥1 identical band


@register(
    "dedup_simhash_banded",
    survey="S18,F5 (extension: banded scale path)",
    oracle=rf"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS w
    FROM documents
),
wh AS (
    SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM tok
),
bits AS (
    SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM wh, (SELECT unnest(range(0, {_SIMHASH_BITS})) AS b)
    GROUP BY doc_id, b
),
sim AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via band blocking — the
    100 TB path the plain `dedup_simhash` docstring promises.

    Pigeonhole: split the 32-bit simhash into 4 bands of 8 bits; any
    pair within hamming 3 differs in at most 3 bands, so it MUST agree
    exactly on at least one band.  Candidate generation is therefore
    an equi-join on (band_idx, band_value) — shuffle volume scales
    with band collisions, not n² — and candidates are then verified
    with the exact hamming distance.  The oracle is the brute-force
    n² pairing: identical output proves the blocking loses nothing.
    Reads the SAME persisted signature frame as `dedup_simhash` (one
    signature scan feeds baseline, band explode, and both verify
    sides)."""
    sim = _simhash_signatures(spark, sf_dir)

    band = F.explode(F.sequence(F.lit(0), F.lit(_SIM_BANDS - 1))).alias("band")
    banded = sim.select("doc_id", band, "simhash").select(
        "doc_id",
        "band",
        F.expr("(simhash >> (band * 8)) & 255").alias("band_val"),
    )
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_val")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_val")
    cand = (
        left.join(right, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


# --- 3c. asymmetric containment --------------------------------------------


@register(
    "dedup_containment",
    survey="S18 (extension: asymmetric containment near-dup)",
    oracle=rf"""
WITH {_SHINGLES_SQL.lstrip()}
SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE / len(a.shingles), 6)
           AS containment,
       CAST(len(a.shingles) AS BIGINT) AS n_shingles_contained,
       CAST(len(b.shingles) AS BIGINT) AS n_shingles_container
FROM sh a
JOIN sh b ON a.doc_id <> b.doc_id
WHERE len(a.shingles) > 0
  AND len(a.shingles) < len(b.shingles)
  AND round(len(list_intersect(a.shingles, b.shingles))::DOUBLE / len(a.shingles), 6) >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment on word-3-gram SHINGLES: |A∩B| / |A|
    ≥ 0.8 with |A| < |B| — catches a document EMBEDDED in a longer one
    (quote farms, page wrappers), which symmetric jaccard dilutes
    below any threshold.  Shingles, not word sets: with a small
    vocabulary every word set is contained in every long doc, while
    3-gram sequences carry structure.  The n² form is the oracle
    anchor; at scale the SAME MinHash band signatures generate
    candidates and this containment check replaces the jaccard
    verify."""
    sh = _shingled_docs(spark, sf_dir)
    a = sh.select(
        F.col("doc_id").alias("doc_contained"), F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_container"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    containment = F.round(inter / F.size("sh_a").cast("double"), 6)
    return (
        a.crossJoin(b)
        .filter(
            (F.col("doc_contained") != F.col("doc_container"))
            & (F.size("sh_a") > 0)
            & (F.size("sh_a") < F.size("sh_b"))
        )
        .select(
            "doc_contained",
            "doc_container",
            containment.alias("containment"),
            F.size("sh_a").cast("bigint").alias("n_shingles_contained"),
            F.size("sh_b").cast("bigint").alias("n_shingles_container"),
        )
        .filter(F.col("containment") >= 0.8)
    )


@register(
    "dedup_containment_prefix",
    survey="S18 (extension: containment near-dup, prefix-filtered scale path)",
    bench=True,
    oracle=rf"""
WITH {_SHINGLES_SQL.lstrip()}
SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE / len(a.shingles), 6)
           AS containment,
       CAST(len(a.shingles) AS BIGINT) AS n_shingles_contained,
       CAST(len(b.shingles) AS BIGINT) AS n_shingles_container
FROM sh a
JOIN sh b ON a.doc_id <> b.doc_id
WHERE len(a.shingles) > 0
  AND len(a.shingles) < len(b.shingles)
  AND round(len(list_intersect(a.shingles, b.shingles))::DOUBLE / len(a.shingles), 6) >= 0.8
""",
)
def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_containment`'s 100 TB path: identical output (same
    brute-force oracle), candidates from EXACT asymmetric prefix
    filtering instead of a crossJoin.

    If |A∩B|/|A| ≥ t, B must cover all but < (1-t)·|A| of A's
    shingles, so B contains at least one of A's `|A| - ceil(t·|A|) + 1`
    globally-rarest shingles.  Candidate generation is the equi-join of
    the contained-side PREFIX relation against the container-side FULL
    shingle inverted index — recall is provably 1.0, and shuffle volume
    scales with the document frequency of RARE shingles, not n².  The
    container side cannot be prefix-restricted (containment is
    one-sided), which is why the contained side's prefix carries the
    whole pruning load.

    The persisted silver frame carries xxhash64-HASHED shingles
    (array<bigint>, not array<string>): set sizes and intersection
    cardinalities — all this operator computes — are invariant under
    an injective mapping, and xxhash64 is injective w.h.p. at corpus
    vocabulary sizes (collision odds ~|V|²/2⁶⁴ ≈ 10⁻¹¹ at 10⁵ distinct
    shingles).  Fixed-width longs make the dfreq groupBy, the prefix
    explode, and the 150k-pair array_intersect verify all run on
    primitive arrays instead of ~20-byte strings — measured 2.03 s →
    1.33 s at sf0.1 with identical output (same brute-force oracle)."""
    t = 0.8
    sh = _containment_shingled64(spark, sf_dir)
    # Materialization barrier at the sketch→verify boundary: without
    # it AQE plans the two verify joins from STATIC estimates of the
    # candidate subtree (a distinct over a join of two exploded
    # relations — wildly over/under-estimated) and at 10× data picks a
    # broadcast orientation that ships a multi-hundred-MB intermediate
    # through the driver (measured 18–50 s at sf1i vs 1.2 s staged;
    # candidates themselves grow exactly linearly — 150,626 → 1,506,995
    # at 10×, SCALE.md r8).  Persisting the candidate list (linear in
    # n, 16 B/row) gives AQE true stats, so the verify stays
    # stream-candidates × broadcast-docs at any scale.
    cand = tracked_persist(
        _containment_prefix_candidates(spark, sh, t),
        "dedup_containment.prefix_cand",
    )
    a = sh.select(F.col("doc_id").alias("doc_contained"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_container"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    containment = F.round(inter / F.size("sh_a").cast("double"), 6)
    return (
        cand.join(a, "doc_contained")
        .join(b, "doc_container")
        .select(
            "doc_contained",
            "doc_container",
            containment.alias("containment"),
            F.size("sh_a").cast("bigint").alias("n_shingles_contained"),
            F.size("sh_b").cast("bigint").alias("n_shingles_container"),
        )
        .filter(F.col("containment") >= t)
    )


# --- 7. canonical representative selection ---------------------------------


@register(
    "exact_dedup_keep_best",
    survey="S18,U3,W2 (extension: canonical-representative selection)",
    oracle=r"""
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           md5(lower(trim(text))) AS content_key,
           row_number() OVER (
               PARTITION BY md5(lower(trim(text)))
               ORDER BY n_chars DESC, doc_id
           ) AS rk,
           count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS n_copies,
           sum(n_chars) OVER (PARTITION BY md5(lower(trim(text)))) AS total_chars
    FROM documents
)
SELECT content_key,
       doc_id AS keep_doc_id,
       lang,
       CAST(n_copies AS BIGINT) AS n_copies,
       CAST(n_chars AS BIGINT) AS kept_chars,
       CAST(total_chars - n_chars AS BIGINT) AS chars_dropped
FROM keyed
WHERE rk = 1
""",
)
def exact_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: the dedup stage AFTER
    cluster discovery — each exact-duplicate cluster (md5 of the
    normalized text) keeps its best member (longest, doc_id
    tie-break) and reports the bytes the drop saves.  This is the
    keep-policy step every production dedup pipeline runs between
    "find duplicates" and "write the canonical corpus"
    (`dedup_exact` reports the clusters; this emits the corpus).

    Scale shape: one window over the content-key partition — a
    single hash shuffle, no join, no driver state."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_key"),
    )
    w = Window.partitionBy("content_key")
    w_rank = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w_rank))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn("total_chars", F.sum("n_chars").over(w))
        .filter(F.col("rk") == 1)
        .select(
            "content_key",
            F.col("doc_id").alias("keep_doc_id"),
            "lang",
            F.col("n_copies").cast("bigint").alias("n_copies"),
            F.col("n_chars").cast("bigint").alias("kept_chars"),
            (F.col("total_chars") - F.col("n_chars")).cast("bigint").alias(
                "chars_dropped"
            ),
        )
    )


def _containment_closure_oracle() -> str:
    from .registry import REGISTRY

    pairs = REGISTRY["dedup_containment_prefix"].oracle
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
closure(a, b, depth) AS (
    SELECT doc_contained, doc_container, 1 FROM pairs
    UNION ALL
    SELECT c.a, p.doc_container, c.depth + 1
    FROM closure c JOIN pairs p ON p.doc_contained = c.b
    WHERE c.depth < 10
)
SELECT a AS doc_contained, b AS doc_ancestor,
       CAST(min(depth) AS INT) AS min_hops
FROM closure
GROUP BY a, b
"""


@register(
    "containment_closure_rcte",
    survey="S18 (extension: recursive-CTE transitive containment closure, Spark 4 WITH RECURSIVE)",
    oracle=_containment_closure_oracle(),
)
def containment_closure_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup containment DAG via Spark
    4's native `WITH RECURSIVE`: if A is contained in B and B in C,
    A is (transitively) contained in C — the ancestry a dedup policy
    needs to collapse whole chains onto the largest container in one
    decision instead of link-by-link.

    Engine-native recursion replaces the driver-side convergence loop
    used by `dedup_clusters` (iterative label propagation with
    per-round localCheckpoint): the recursion IS the plan, so there's
    no Python round-trip per hop.  UNION ALL recursion terminates
    here without a distinct because containment edges strictly
    increase shingle count (the relation is a DAG — no cycles by
    construction); the depth guard is belt-and-braces, and the final
    GROUP BY collapses alternate paths to min_hops.  At 100 TB each
    hop is one equi-join on the contained key, partitioned like any
    other self-join — state never funnels to the driver."""
    pairs = dedup_containment_prefix(spark, sf_dir).select(
        "doc_contained", "doc_container"
    )
    pairs.createOrReplaceTempView("containment_pairs_rcte")
    return spark.sql("""
WITH RECURSIVE closure(a, b, depth) AS (
    SELECT doc_contained, doc_container, 1 FROM containment_pairs_rcte
    UNION ALL
    SELECT c.a, p.doc_container, c.depth + 1
    FROM closure c JOIN containment_pairs_rcte p ON p.doc_contained = c.b
    WHERE c.depth < 10
)
SELECT a AS doc_contained, b AS doc_ancestor,
       CAST(min(depth) AS INT) AS min_hops
FROM closure
GROUP BY a, b
""")


@register(
    "incremental_lsh_probe",
    survey="LLM-pipeline extension: incremental MinHash+LSH dedup — delta batch probed against the standing corpus",
    oracle=rf"""
WITH {_SHINGLES_SQL.lstrip()},
flags AS (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-seed-1'), 1, 8))::BIGINT
               % 100 >= 90 AS is_delta
    FROM documents
),
hashed AS (
    SELECT doc_id, shingles,
           list_transform(shingles,
               x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_P}) AS hs
    FROM sh
),
mh AS (
    SELECT doc_id,
           list_transform(range(0, {_K}),
               s -> list_min(list_transform(hs, h -> ((2*s + 1) * h + (17*s + 7)) % {_P})))
               AS sig
    FROM hashed
),
bands AS (
    SELECT doc_id, b,
           CAST(sig[b*3+1] AS VARCHAR) || '|' || CAST(sig[b*3+2] AS VARCHAR)
               || '|' || CAST(sig[b*3+3] AS VARCHAR) AS band_hash
    FROM mh, (SELECT unnest(range(0, {_BANDS})) AS b)
),
cand AS (
    SELECT DISTINCT least(a.doc_id, b2.doc_id) AS doc_a,
                    greatest(a.doc_id, b2.doc_id) AS doc_b
    FROM bands a
    JOIN flags fa ON a.doc_id = fa.doc_id AND fa.is_delta
    JOIN bands b2 ON a.b = b2.b AND a.band_hash = b2.band_hash
                  AND a.doc_id != b2.doc_id
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
             AS jaccard
    FROM cand c
    JOIN sh sa ON c.doc_a = sa.doc_id
    JOIN sh sb ON c.doc_b = sb.doc_id
)
SELECT v.doc_a, v.doc_b, round(v.jaccard, 6) AS jaccard,
       CASE WHEN fa.is_delta AND fb.is_delta THEN 'delta-delta'
            ELSE 'delta-base' END AS pair_type
FROM verified v
JOIN flags fa ON v.doc_a = fa.doc_id
JOIN flags fb ON v.doc_b = fb.doc_id
WHERE round(v.jaccard, 6) >= 0.5
""",
)
def incremental_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup for continuous ingestion: the
    deterministic 10% 'delta' batch (same salted-md5 split as
    `train_test_split`) is probed against the FULL standing corpus —
    same shingle/minhash/band parameters as `dedup_minhash_lsh`, but
    the candidate join keeps only buckets touched by a delta doc, so
    base×base work is never redone.  Returns delta-base and
    delta-delta verified pairs (jaccard >= 0.5) with the pair type.

    The law `tests/test_cross_query_invariants.py::
    test_incremental_lsh_equals_full_restriction` pins the output to
    dedup_minhash_lsh's full pair set restricted to pairs touching a
    delta doc — the maintenance invariant that makes the incremental
    path trustworthy (the same incremental == rebuild discipline as
    the Bloom index and rollup-merge operators).

    Scale shape: at 100 TB the standing corpus's band table is a
    persisted silver keyed on (band, band_hash); each arriving batch
    shuffles ONLY its own bands (delta-sized, not corpus-sized) into
    that layout, and the verify join touches base shingle rows only
    for colliding candidates.  Per-batch cost scales with the batch
    and its collision set — independent of corpus size."""
    sh = _shingled_docs(spark, sf_dir)
    is_delta = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|split-seed-1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        >= 90
    )
    hashed = tracked_persist(
        sh.select(
            "doc_id",
            "shingles",
            F.expr(_BASE_HASH_SQL).alias("hs"),
            is_delta.alias("is_delta"),
        ),
        "incremental_lsh_probe.hashed",
    )
    bands = _minhash_bands(hashed)
    probe = bands.filter(F.col("is_delta")).select(
        F.col("doc_id").alias("doc_p"), "b", "band_hash"
    )
    build = bands.select(F.col("doc_id").alias("doc_q"), "b", "band_hash")
    cand = (
        probe.join(build, ["b", "band_hash"])
        .filter(F.col("doc_p") != F.col("doc_q"))
        .select(
            F.least("doc_p", "doc_q").alias("doc_a"),
            F.greatest("doc_p", "doc_q").alias("doc_b"),
        )
        .distinct()
    )
    return _jaccard_verified(cand, hashed).select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.when(F.col("is_delta_a") & F.col("is_delta_b"), F.lit("delta-delta"))
        .otherwise(F.lit("delta-base"))
        .alias("pair_type"),
    )


# --- corpus-level source-overlap audit ---------------------------------------

_OVERLAP_K = 64  # corpus-grain minhash width: 1/64 resolution, exact in binary


@register(
    "source_overlap_matrix",
    survey="S18,A18 (extension: inter-source duplication audit — exact vs sketch)",
    oracle=rf"""
WITH {_SHINGLES_SQL.lstrip()},
exd AS (
    SELECT DISTINCT d.source, t.g
    FROM sh s
    JOIN documents d USING (doc_id),
    LATERAL unnest(s.shingles) AS t(g)
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM exd GROUP BY source),
inter AS (
    SELECT x.source AS source_a, y.source AS source_b,
           CAST(count(*) AS BIGINT) AS c
    FROM exd x JOIN exd y ON x.g = y.g AND x.source < y.source
    GROUP BY 1, 2
),
hashed AS (
    SELECT source, ('0x' || substr(md5(g), 1, 15))::BIGINT % {_P} AS h FROM exd
),
mh AS (
    SELECT source, t.s,
           min(((2 * t.s + 1) * h + (17 * t.s + 7)) % {_P}) AS mv
    FROM hashed, generate_series(0, {_OVERLAP_K - 1}) t(s)
    GROUP BY source, t.s
),
agree AS (
    SELECT a.source AS source_a, b.source AS source_b,
           sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS n_agree
    FROM mh a JOIN mh b ON a.s = b.s AND a.source < b.source
    GROUP BY 1, 2
)
SELECT sa.source AS source_a, sb.source AS source_b,
       sa.n AS n_shingles_a, sb.n AS n_shingles_b,
       coalesce(i.c, 0) AS n_common,
       floor(coalesce(i.c, 0)::DOUBLE / (sa.n + sb.n - coalesce(i.c, 0))
             * 1e6 + 0.5) / 1e6 AS jaccard,
       coalesce(g.n_agree, 0)::DOUBLE / {_OVERLAP_K} AS minhash_est
FROM sizes sa
JOIN sizes sb ON sa.source < sb.source
LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source
LEFT JOIN agree g ON g.source_a = sa.source AND g.source_b = sb.source
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication audit — the pre-mixing check a corpus
    pipeline runs before blending sources: for every source pair, the
    EXACT shingle-set Jaccard next to its MinHash estimate, so the
    sketch that would be used at 100 TB (where the exact self-join is
    the expensive path) is graded in-engine against ground truth on
    the same plan — the `retrieval_eval_rank_metrics` pattern applied
    to the dedup tier's own sketch.  (Reference parity anchor: the
    cross-collector signal reconciliation of signal_aggregator.py,
    source-pair grain.)

    Estimate uses the SAME md5 permutation family as
    `dedup_minhash_lsh` ((2s+1)·h + (17s+7) mod P — valid for any s)
    widened to 64 seeds: corpus-grain estimates need finer resolution
    than the 9-wide per-doc signatures, and n/64 is a dyadic rational,
    so the estimate column is bit-exact across engines with no
    rounding clause.

    Scale shape: one distinct over (source, shingle) — shingle-grain
    hash shuffle, linear; the exact intersection is a shingle-keyed
    equi-join whose per-key multiplicity is bounded by the source
    count (never a pair explosion); the sketch side collapses to
    sources × 64 rows before its self-join.  At 100 TB you keep the
    sketch columns and sample the exact columns; both live in one
    plan here precisely so the sketch's error is measurable."""
    d = load(spark, sf_dir, "documents", fan_out=True).select("source", "text")
    ex = (
        d.select(
            "source",
            F.expr(f"explode({_word_shingles3_sql(_TOKENS_SQL)})").alias("g"),
        )
        .distinct()
    )
    ex = tracked_persist(ex, "source_overlap_matrix.exd")
    sizes = ex.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )

    h = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint") % F.lit(_P)
    hashed = ex.select("source", h.alias("h"))
    mh = (
        hashed.select(
            "source", "h",
            F.explode(F.sequence(F.lit(0), F.lit(_OVERLAP_K - 1))).alias("s"),
        )
        .groupBy("source", "s")
        .agg(
            F.min(
                (
                    (F.lit(2) * F.col("s") + F.lit(1)) * F.col("h")
                    + (F.lit(17) * F.col("s") + F.lit(7))
                )
                % F.lit(_P)
            ).alias("mv")
        )
    )
    ma, mb = mh.alias("ma"), mh.alias("mb")
    agree = (
        ma.join(
            mb,
            (F.col("ma.s") == F.col("mb.s"))
            & (F.col("ma.source") < F.col("mb.source")),
        )
        .groupBy(
            F.col("ma.source").alias("source_a"), F.col("mb.source").alias("source_b")
        )
        .agg(
            F.sum(
                F.when(F.col("ma.mv") == F.col("mb.mv"), 1).otherwise(0)
            ).alias("n_agree")
        )
    )

    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    pairs = sa.join(
        F.broadcast(sb), F.col("sa.source") < F.col("sb.source")
    ).select(
        F.col("sa.source").alias("source_a"),
        F.col("sb.source").alias("source_b"),
        F.col("sa.n").alias("n_shingles_a"),
        F.col("sb.n").alias("n_shingles_b"),
    )
    n_common = F.coalesce(F.col("c"), F.lit(0)).cast("bigint")
    union_n = F.col("n_shingles_a") + F.col("n_shingles_b") - n_common
    return (
        pairs.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .join(F.broadcast(agree), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_shingles_a",
            "n_shingles_b",
            n_common.alias("n_common"),
            (
                F.floor(
                    n_common.cast("double") / union_n.cast("double") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("jaccard"),
            (
                F.coalesce(F.col("n_agree"), F.lit(0)).cast("double")
                / F.lit(float(_OVERLAP_K))
            ).alias("minhash_est"),
        )
    )


@register(
    "source_overlap_sketch",
    survey="S18,A18 (extension: sketch-only inter-source overlap — the 100 TB path)",
    oracle=rf"""
WITH {_SHINGLES_SQL.lstrip()},
occ AS (
    SELECT d.source, t.g
    FROM sh s
    JOIN documents d USING (doc_id),
    LATERAL unnest(s.shingles) AS t(g)
),
hashed AS (
    SELECT source, ('0x' || substr(md5(g), 1, 15))::BIGINT % {_P} AS h FROM occ
),
mh AS (
    SELECT source, t.s,
           min(((2 * t.s + 1) * h + (17 * t.s + 7)) % {_P}) AS mv
    FROM hashed, generate_series(0, {_OVERLAP_K - 1}) t(s)
    GROUP BY source, t.s
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END)::DOUBLE / {_OVERLAP_K}
           AS minhash_est
FROM mh a JOIN mh b ON a.s = b.s AND a.source < b.source
GROUP BY 1, 2
""",
)
def source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-ONLY twin of `source_overlap_matrix` — the plan that
    actually runs at 100 TB, following the repo's exact-twin/sketch-
    twin pattern (`audience_overlap_daily` → `audience_overlap_hll`):
    the same 64-seed per-source MinHash signature and the same
    bit-exact dyadic n/64 estimate, but the exact shingle-grain
    intersection join NEVER appears in the plan.

    Two structural savings over the exact twin, not just a dropped
    column: (1) no (source, shingle) DISTINCT — min() is
    duplicate-insensitive, so the signature is computed over raw
    shingle occurrences with a map-side-combinable aggregate (the
    distinct's full shingle-grain shuffle disappears); (2) the only
    join is the sources×64-row signature self-join — corpus size never
    crosses a shuffle boundary after the linear scan.  Estimates are
    bit-identical to `source_overlap_matrix.minhash_est` by
    construction (same hash family, same seeds, same min), and the
    estimate-vs-exact tolerance is pinned cross-query in
    tests/test_cross_query_invariants.py using the exact twin's
    measured-error columns.

    Scale shape: one narrow scan (explode → hash) feeding a 64-way
    partial-agg min — at 100 TB this is the canonical one-pass sketch
    build; the pair matrix is s(s-1)/2 rows off a sources×64 frame."""
    d = load(spark, sf_dir, "documents", fan_out=True).select("source", "text")
    occ = d.select(
        "source",
        F.expr(f"explode({_word_shingles3_sql(_TOKENS_SQL)})").alias("g"),
    )
    h = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint") % F.lit(_P)
    mh = (
        occ.select(
            "source",
            h.alias("h"),
            F.explode(F.sequence(F.lit(0), F.lit(_OVERLAP_K - 1))).alias("s"),
        )
        .groupBy("source", "s")
        .agg(
            F.min(
                (
                    (F.lit(2) * F.col("s") + F.lit(1)) * F.col("h")
                    + (F.lit(17) * F.col("s") + F.lit(7))
                )
                % F.lit(_P)
            ).alias("mv")
        )
    )
    # ONE linear pass builds the sketch; the sources×64 signature is
    # persisted so the self-join below never re-explodes the corpus.
    mh = tracked_persist(mh, "source_overlap_sketch.mh")
    ma, mb = mh.alias("ma"), mh.alias("mb")
    agree = F.sum(F.when(F.col("ma.mv") == F.col("mb.mv"), 1).otherwise(0))
    return (
        ma.join(
            mb,
            (F.col("ma.s") == F.col("mb.s"))
            & (F.col("ma.source") < F.col("mb.source")),
        )
        .groupBy(
            F.col("ma.source").alias("source_a"), F.col("mb.source").alias("source_b")
        )
        .agg(
            agree.cast("bigint").alias("n_agree"),
            (agree.cast("double") / F.lit(float(_OVERLAP_K))).alias("minhash_est"),
        )
    )
