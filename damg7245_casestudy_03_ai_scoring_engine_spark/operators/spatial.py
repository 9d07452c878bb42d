"""Spatial operators: grid-cell-blocked planar radius join and
nearest-neighbor-within-radius (SURVEY §2 extension — a family the
reference has no counterpart for, but any geo-enriched scoring
pipeline needs: "which entities are within distance R of each
other").

Geometry is EXACT-INTEGER planar: each customer gets a deterministic
point in a 1,000,000 × 1,000,000 integer grid derived from its key by
pure int64 arithmetic (mixed-congruential x, quadratic-residue y —
identical expressions in Spark and DuckDB, no trig, no floats), and
distance comparisons use squared Euclidean distance in int64, so
cross-engine parity is bit-stable and there is no boundary-ULP class
at the radius threshold at all.  A production variant swaps the
synthetic coords for real projected coordinates and the same plan
holds; for lat/lon the grid becomes a geohash and the in-cell
predicate haversine.

The SCALE story is the blocking: points are bucketed into R×R grid
cells, each point probes only its own and the 8 neighbouring cells
(any pair within R must lie in adjacent cells), so the candidate set
is an equi-join on cell keys — no cross join anywhere.  The DuckDB
oracle is the INDEPENDENT brute-force O(n²) formulation, so the
correctness gate proves the blocked join loses no pair (the same
pinned-identical pattern the dedup families use).  Dense cells are
an AQE skew-join case, not a plan change; the 9× probe expansion is
narrow (no shuffle before the cell join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import topk_ranked
from ..sources.catalog import load
from .registry import register

_GRID = 1_000_000  # coordinate space is [0, _GRID)²
_RADIUS = 5_000  # join radius; cell size == radius
_R2 = _RADIUS * _RADIUS
# Nearest neighbour per point: a (dist2, key) total order, so ties are
# deterministic on both engines.
_NEAREST = "PARTITION BY ka ORDER BY dist2, kb"

# Deterministic point derivation — spelled identically in the oracle.
_X_EXPR = f"(c_custkey * 48271 + 11) % {_GRID}"
_Y_EXPR = f"(((c_custkey * c_custkey) % 999983) * 31 + c_custkey * 7919 + 7) % {_GRID}"

_PTS_SQL = f"""
    SELECT c_custkey AS k,
           {_X_EXPR} AS x,
           {_Y_EXPR} AS y
    FROM customer
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("k"),
        F.expr(_X_EXPR).alias("x"),
        F.expr(_Y_EXPR).alias("y"),
    )


def _blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ordered candidate pairs (a, b), a.k != b.k, within _RADIUS,
    via 9-cell neighbourhood probing.  Each unordered pair is produced
    exactly twice (once per direction) because b's home cell is unique
    and the 9 probe offsets are distinct."""
    # single-parse build (r13, guide §5/§7.3): same cell math, probe
    # explode, and int64 distance as the former Column chains
    pts = _points(spark, sf_dir).selectExpr(
        "*", f"x div {_RADIUS} AS cx", f"y div {_RADIUS} AS cy"
    )
    off_sql = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy)"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    probe = pts.selectExpr("*", f"explode(array({off_sql})) AS o").selectExpr(
        "k AS ka",
        "x AS xa",
        "y AS ya",
        "cx + o.dx AS pcx",
        "cy + o.dy AS pcy",
    )
    home = pts.selectExpr(
        "k AS kb", "x AS xb", "y AS yb", "cx AS bcx", "cy AS bcy"
    )
    return (
        probe.join(home, F.expr("pcx = bcx AND pcy = bcy"))
        .filter("ka != kb")
        .selectExpr(
            "ka",
            "kb",
            "CAST((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS BIGINT)"
            " AS dist2",
        )
        .filter(f"dist2 <= {_R2}")
    )


@register(
    "spatial_radius_join",
    bench=True,
    survey="J8 (extension: grid-blocked planar radius self-join)",
    oracle=f"""
WITH pts AS ({_PTS_SQL})
SELECT a.k AS custkey_a, b.k AS custkey_b,
       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
FROM pts a JOIN pts b ON a.k < b.k
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_R2}
""",
)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within planar distance 5,000 in the derived
    integer grid, found via R-sized grid-cell blocking (each point
    probes its 3×3 cell neighbourhood — an equi-join on cell keys).
    The oracle is the independent O(n²) brute-force self-join, so the
    gate proves blocked == exhaustive.  See module docstring for the
    geometry/scale contract."""
    return (
        _blocked_pairs(spark, sf_dir)
        .filter(F.col("ka") < F.col("kb"))
        .select(
            F.col("ka").alias("custkey_a"),
            F.col("kb").alias("custkey_b"),
            "dist2",
        )
    )


@register(
    "spatial_nearest_neighbor",
    survey="J8,W2 (extension: nearest-neighbor-within-radius via cell blocking)",
    oracle=f"""
WITH pts AS ({_PTS_SQL}),
cand AS (
    SELECT a.k AS k, b.k AS nn,
           CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM pts a JOIN pts b ON a.k <> b.k
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_R2}
),
rk AS (
    SELECT k, nn, dist2,
           row_number() OVER (PARTITION BY k ORDER BY dist2, nn) AS rn
    FROM cand
)
SELECT k AS custkey, nn AS nearest_custkey, dist2 FROM rk WHERE rn = 1
""",
)
def spatial_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's nearest other customer within radius 5,000
    (points with no neighbour that close are absent — the radius-
    bounded form is what blocking can answer exactly; an unbounded
    nearest-neighbour needs expanding-ring probes).  Candidates come
    from the same 9-cell blocked join as `spatial_radius_join`
    (both directions kept); the argmin is a per-key window with a
    (dist2, key) total order, so ties are deterministic on both
    engines.  Oracle: brute-force candidates + identical ranking."""
    return topk_ranked(_blocked_pairs(spark, sf_dir), _NEAREST, 1).select(
        F.col("ka").alias("custkey"),
        F.col("kb").alias("nearest_custkey"),
        "dist2",
    )


_NN_ROUNDS = 4  # expanding-ring rounds: cell sizes R, 2R, 4R, 8R


def _ring_candidates(pts: DataFrame, pending: DataFrame, cell: int) -> DataFrame:
    """Per-pending-point argmin over the 3×3 neighbourhood at the
    given cell size (finds the true NN for every pending point whose
    nearest other point lies within `cell`)."""
    left = pending.select(
        F.col("k").alias("ka"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.expr(f"x div {cell}").alias("cx"),
        F.expr(f"y div {cell}").alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = left.withColumn("o", F.explode(offsets)).select(
        "ka",
        "xa",
        "ya",
        (F.col("cx") + F.col("o.dx")).alias("pcx"),
        (F.col("cy") + F.col("o.dy")).alias("pcy"),
    )
    home = pts.select(
        F.col("k").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x div {cell}").alias("bcx"),
        F.expr(f"y div {cell}").alias("bcy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    cand = (
        probe.join(
            home,
            (F.col("pcx") == F.col("bcx")) & (F.col("pcy") == F.col("bcy")),
        )
        .filter(F.col("ka") != F.col("kb"))
        .withColumn("dist2", d2.cast("long"))
        .filter(F.col("dist2") <= F.lit(cell) * F.lit(cell))
    )
    return topk_ranked(cand, _NEAREST, 1).select(
        F.col("ka").alias("k"), F.col("kb").alias("nn"), "dist2"
    )


@register(
    "spatial_nn_expanding_ring",
    survey="J8,W2 (extension: unbounded nearest neighbor via expanding-ring probes)",
    oracle=f"""
WITH pts AS ({_PTS_SQL}),
cand AS (
    SELECT a.k AS k, b.k AS nn,
           CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM pts a JOIN pts b ON a.k <> b.k
),
rk AS (
    SELECT k, nn, dist2,
           row_number() OVER (PARTITION BY k ORDER BY dist2, nn) AS rn
    FROM cand
)
SELECT k AS custkey, nn AS nearest_custkey, dist2 FROM rk WHERE rn = 1
""",
)
def spatial_nn_expanding_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE nearest neighbour for EVERY customer (no radius bound) via
    expanding-ring grid probes: round k blocks at cell size 2^k·R and
    resolves every still-pending point whose nearest other point lies
    within that cell size (the 3×3 neighbourhood at cell size C finds
    ALL pairs within C, and if any candidate is found the argmin is
    the true NN — its distance is ≤ C, so the true NN is among the
    candidates).  Points still unresolved after the rounds — isolated
    outliers, a vanishing fraction under any non-adversarial density —
    fall back to ONE broadcast-nested-loop pass of the tiny pending
    set against all points: the documented bounded exception, never
    the corpus-quadratic default.  Oracle: global brute-force argmin
    with the same (dist2, key) total order.

    Scale shape: per round ONE cell equi-join over the shrinking
    pending set, localCheckpointed so plan depth stays constant
    (frontier-BFS lineage rule); candidate volume per round is
    bounded by ring density, and doubling cells geometrically bounds
    the round count.
    """
    from ..functions.cache import tracked_persist

    pts = tracked_persist(_points(spark, sf_dir), "spatial_nn.pts")
    pending = pts
    resolved = None
    for k in range(_NN_ROUNDS):
        found = _ring_candidates(pts, pending, _RADIUS * (2**k)).localCheckpoint()
        resolved = found if resolved is None else resolved.unionAll(found)
        pending = pending.join(
            found.select(F.col("k")), "k", "left_anti"
        ).localCheckpoint()
    # Straggler fallback: brute-force the (tiny) unresolved remainder.
    a = pending.select(
        F.col("k").alias("ka"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = pts.select(
        F.col("k").alias("kb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    strag = topk_ranked(
        F.broadcast(a)
        .join(b, F.col("ka") != F.col("kb"))
        .withColumn("dist2", d2.cast("long")),
        _NEAREST,
        1,
    ).select(F.col("ka").alias("k"), F.col("kb").alias("nn"), "dist2")
    return resolved.unionAll(strag).select(
        F.col("k").alias("custkey"),
        F.col("nn").alias("nearest_custkey"),
        "dist2",
    )


@register(
    "spatial_density_grid",
    survey="A1,J8 (extension: spatial density grid / hotspot cells)",
    oracle=f"""
WITH pts AS ({_PTS_SQL})
SELECT x // {_RADIUS} AS cell_x, y // {_RADIUS} AS cell_y,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def spatial_density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell density map over the derived point field: point
    counts per R-sized cell, keeping cells with at least two points —
    the hotspot histogram read before any spatial join to size the
    skew strategy (dense cells are exactly where the radius join's
    AQE skew handling earns its keep), and the spatial sibling of
    `graph_degree_histogram`.  One map-side-combinable groupBy on
    integer cell keys."""
    pts = _points(spark, sf_dir)
    return (
        pts.groupBy(
            F.expr(f"x div {_RADIUS}").alias("cell_x"),
            F.expr(f"y div {_RADIUS}").alias("cell_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .filter(F.col("n_points") >= 2)
    )
