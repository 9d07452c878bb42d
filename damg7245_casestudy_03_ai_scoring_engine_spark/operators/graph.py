"""Iterative graph analytics over the transaction graph.

The customer↔supplier bipartite graph (who bought from whom, via
lineitem ⋈ orders) supports the standard importance/centrality
queries a marketplace runs.  PageRank here is the canonical iterative
DataFrame fixpoint: contributions = edges ⋈ ranks, new ranks = one
groupBy — repeated a fixed number of rounds with lineage-truncating
checkpoints (same loop discipline as dedup_clusters' connected
components).

The listing query IS oracle-checked: a fixed iteration count needs no
recursion, so the DuckDB twin unrolls the same 8 power-method rounds
as chained aggregate CTEs (see _pagerank_oracle) — the same
finite-iteration-replay pattern as M13's recursive-CTE eigenvector.
tests/test_graph.py additionally pins the raw ranks against a numpy
power iteration on the collected adjacency at smoke scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cache import tracked_persist
from ..functions.core import flit, round_stable_sql, topk_ranked
from ..sources.catalog import load
from .registry import register

_DAMPING = 0.85
_ITERATIONS = 8
_SUPP_OFFSET = 1_000_000  # supplier node ids live above customer ids


def transaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier edges (both directions) from a 1/10
    sample of orders — the demo subgraph.  Node encoding: customers
    keep their key, suppliers are offset by 1e6."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
    rev = pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    return fwd.union(rev)


def pagerank(edges: DataFrame, damping: float = _DAMPING, iterations: int = _ITERATIONS) -> DataFrame:
    """Power-iteration PageRank on an edge list: returns (node, rank).

    Every round is ONE join (edges ⋈ ranks on src) and ONE groupBy
    (sum contributions per dst) — the shuffle-count profile that holds
    at any scale — with localCheckpoint truncating the plan per round.
    The bipartite both-direction edge set has no dangling nodes, so
    mass is conserved without a dangling-rank correction."""
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(out_deg, "src").localCheckpoint()
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    n = nodes.count()
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            contribs.groupBy("node")
            .agg((F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank"))
            .localCheckpoint(eager=False)
        )
    return ranks


def _pagerank_oracle() -> str:
    """DuckDB oracle for the PageRank listing — the SAME fixed
    8-iteration power method, UNROLLED as 8 chained aggregate CTEs
    (standard SQL forbids aggregation in a recursive term, and a fixed
    iteration count needs no recursion at all).  Both engines iterate
    the same operator with sums differing only in accumulation order
    (~1e-15 relative), and the output is the n-SCALED rank
    floor-rounded 6dp, so the values — and therefore the
    rounded-value-ordered top-20 selection — are identical.  Same
    verification pattern as M13's recursive-CTE power method."""
    damping, base = _DAMPING, f"(1.0 - {_DAMPING})"
    steps = []
    for k in range(1, _ITERATIONS + 1):
        steps.append(
            f"""r{k} AS (
    SELECT e.dst AS node,
           {base} / nn.n + {damping} * sum(p.rank / e.deg) AS rank
    FROM r{k - 1} p JOIN ed2 e ON e.src = p.node, nn
    GROUP BY e.dst, nn.n
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH ed AS (
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + {_SUPP_OFFSET} AS supp
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 10 = 0
),
edges AS (
    SELECT cust AS src, supp AS dst FROM ed
    UNION ALL
    SELECT supp, cust FROM ed
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ed2 AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
{chain},
scaled AS (
    SELECT node,
           CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS kind,
           floor(rank * nn.n * 1e6 + 0.5) / 1e6 AS pagerank
    FROM r{_ITERATIONS}, nn
)
SELECT CAST(rk AS INT) AS rk, node, kind, pagerank
FROM (
    SELECT *, row_number() OVER (ORDER BY pagerank DESC, node) AS rk
    FROM scaled
)
WHERE rk <= 20
"""


@register(
    "pagerank_top_nodes",
    survey="iterative analytics (extension: PageRank fixpoint)",
    oracle=_pagerank_oracle(),
)
def pagerank_top_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 transaction-graph nodes by PageRank, tagged customer /
    supplier.  The listed value is the n-SCALED rank (1.0 = the
    uniform-average node), floor-rounded 6dp via round_stable_sql, and the
    top-20 is selected by the ROUNDED value with node-id tie-break —
    both choices so the fixed-8-iteration DuckDB oracle (the same
    power method unrolled as chained aggregate CTEs, see
    _pagerank_oracle) selects and prints the identical listing.  The
    exact numpy power-iteration pin stays in tests/test_graph.py."""
    from pyspark.sql import Window

    ranks = pagerank(transaction_edges(spark, sf_dir))
    # one driver-side scalar (node count) to scale ranks to O(1);
    # ranks is checkpoint-backed so the count job is cheap and reused
    n = ranks.count()
    kind = F.when(F.col("node") >= _SUPP_OFFSET, F.lit("supplier")).otherwise(
        F.lit("customer")
    )
    # Distributed top-20: TakeOrdered via orderBy+limit, so the global
    # ranking window only numbers the 20 surviving rows.
    top = (
        ranks.select(
            "node",
            kind.alias("kind"),
            F.expr(round_stable_sql(f"rank * {flit(n)}", 6)).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("pagerank"), F.asc("node"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("rk", "node", "kind", "pagerank")
    )


_TRI_MIN_CO = 0.02  # edge = brands co-occurring in >= 2% of orders


@register(
    "brand_triangle_counts",
    survey="graph-extension (triangle counting on the co-occurrence graph)",
    oracle=f"""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT count(DISTINCT okey) AS n_orders FROM baskets),
edges AS (
    SELECT a.brand AS u, b.brand AS v
    FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.brand < b.brand, n
    GROUP BY a.brand, b.brand, n.n_orders
    HAVING count(*) >= ceil({_TRI_MIN_CO} * n.n_orders)
),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e1.v = e2.u
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
member AS (
    SELECT a AS brand FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT brand, CAST(count(*) AS BIGINT) AS n_triangles
FROM member GROUP BY brand
""",
)
def brand_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting on the brand co-occurrence graph
    (edge = two brands bought together in >= 2% of orders) via the
    ordered-edge join: with every edge oriented u < v, each triangle
    is enumerated exactly once as e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) — the
    standard distributed triangle algorithm (two equi-joins, no
    wedges double-counted, no per-node adjacency state).

    At 100 TB the same plan holds with the usual refinement (orient
    edges by degree, not id, to bound the join fan-out on hubs); the
    integer co-occurrence threshold keeps the edge list sparse."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    # Persisted (r13, guide §5): three consumers — the n_orders scalar
    # and BOTH sides of the co-occurrence self-join — otherwise each
    # re-run the lineitem scan + broadcast join + distinct.  The okey
    # grain is already distinct, so n_orders needs no second distinct
    # pass, just a countDistinct over the persisted silver.
    baskets = tracked_persist(baskets, "brand_triangle_counts.baskets")
    n_orders = baskets.select("okey").distinct().count()
    import math

    min_co = math.ceil(_TRI_MIN_CO * n_orders)
    b2 = baskets.select(F.col("okey"), F.col("brand").alias("brand_b"))
    edges = (
        baskets.join(b2, "okey")
        .filter(F.col("brand") < F.col("brand_b"))
        .groupBy(F.col("brand").alias("u"), F.col("brand_b").alias("v"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= min_co)
        .select("u", "v")
    )
    edges = tracked_persist(edges, "brand_triangle_counts.edges")
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    member = (
        tri.select(F.col("a").alias("brand"))
        .unionAll(tri.select(F.col("b").alias("brand")))
        .unionAll(tri.select(F.col("c").alias("brand")))
    )
    return member.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


_BFS_HOPS = 4
_BFS_SRC_MAX = 10  # sources: graph nodes with id < this


def _bfs_oracle() -> str:
    """Unrolled fixed-depth BFS in plain CTEs (the iterative-oracle
    pattern: a FIXED iteration count is SQL-expressible even though
    an until-convergence loop is not)."""
    steps = []
    for k in range(1, _BFS_HOPS + 1):
        prev = "d0" if k == 1 else f"r{k - 1}"
        steps.append(
            f"""r{k} AS (
    SELECT DISTINCT e.dst AS node
    FROM {prev} p JOIN edges e ON e.src = p.node
)"""
        )
    chain = ",\n".join(steps)
    layers = "\nUNION ALL\n".join(
        [f"SELECT node, 0 AS d FROM d0"]
        + [f"SELECT node, {k} AS d FROM r{k}" for k in range(1, _BFS_HOPS + 1)]
    )
    return f"""
WITH ed AS (
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + {_SUPP_OFFSET} AS supp
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 10 = 0
),
edges AS (
    SELECT cust AS src, supp AS dst FROM ed
    UNION ALL
    SELECT supp, cust FROM ed
),
d0 AS (
    SELECT DISTINCT src AS node FROM edges WHERE src < {_BFS_SRC_MAX}
),
{chain},
layers AS (
{layers}
)
SELECT node,
       CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(min(d) AS BIGINT) AS hops
FROM layers GROUP BY node
"""


@register(
    "bfs_hop_distance",
    survey="iterative analytics (extension: fixed-depth BFS shortest hops)",
    oracle=_bfs_oracle(),
)
def bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (<= 4) from a seed set of customer nodes
    over the customer-supplier transaction graph — the reachability /
    blast-radius primitive (fraud rings, supply-chain exposure) that
    complements PageRank (global importance) and triangles (local
    density).

    Spark side is textbook distributed frontier BFS: each round joins
    the CURRENT frontier (not all visited nodes) against the edge
    list, anti-joins out already-visited nodes, and localCheckpoints
    both sets so plan depth stays constant (the lineage rule every
    iterative operator here follows).  Work per round is
    O(frontier-adjacent edges) — the optimal frontier property — and
    rounds are fixed at 4, so the DuckDB oracle replays the identical
    finite expansion as unrolled DISTINCT-join CTEs.  All-integer
    output.
    """
    edges = tracked_persist(
        transaction_edges(spark, sf_dir), "bfs_hop_distance.edges"
    )
    visited = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") < _BFS_SRC_MAX)
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for k in range(1, _BFS_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(k).cast("long"))
            .localCheckpoint()
        )
        visited = visited.unionAll(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return visited.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("kind"),
        "hops",
    )


@register(
    "graph_degree_histogram",
    survey="iterative analytics (extension: degree distribution)",
    oracle=f"""
WITH ed AS (
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + {_SUPP_OFFSET} AS supp
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 10 = 0
),
edges AS (
    SELECT cust AS src, supp AS dst FROM ed
    UNION ALL
    SELECT supp, cust FROM ed
),
deg AS (
    SELECT src,
           CASE WHEN src >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS kind,
           CAST(count(*) AS BIGINT) AS degree
    FROM edges GROUP BY 1, 2
)
SELECT kind, degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1, 2
""",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the transaction graph, split by node
    kind — the shape diagnostic (hub detection, power-law check) read
    before choosing any graph algorithm's skew strategy; the profile
    that justifies the salted/AQE handling the iterative operators
    document.  Two map-side-combinable aggregates over the edge list,
    all-integer output."""
    edges = transaction_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.select(
            F.when(F.col("src") >= _SUPP_OFFSET, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("kind"),
            F.col("degree").cast("long").alias("degree"),
        )
        .groupBy("kind", "degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )


_BF_ROUNDS = 4


def _bf_oracle() -> str:
    steps = []
    for k in range(1, _BF_ROUNDS + 1):
        prev = f"d{k - 1}"
        steps.append(
            f"""d{k} AS (
    SELECT node, CAST(min(cost) AS BIGINT) AS cost FROM (
        SELECT node, cost FROM {prev}
        UNION ALL
        SELECT e.dst AS node, p.cost + e.w AS cost
        FROM {prev} p JOIN we e ON e.src = p.node
    ) GROUP BY node
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH pair AS (
    SELECT o.o_custkey AS cust, l.l_suppkey + {_SUPP_OFFSET} AS supp,
           CAST(min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 10 = 0
    GROUP BY 1, 2
),
we AS (
    SELECT cust AS src, supp AS dst, w FROM pair
    UNION ALL
    SELECT supp, cust, w FROM pair
),
d0 AS (
    SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS cost
    FROM we WHERE src < {_BFS_SRC_MAX}
),
{chain}
SELECT node,
       CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS kind,
       cost AS min_cost_cents
FROM d{_BF_ROUNDS}
"""


@register(
    "cheapest_path_bellman_ford",
    survey="iterative analytics (extension: min-plus shortest path, fixed rounds)",
    oracle=_bf_oracle(),
)
def cheapest_path_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-COST path (≤4 relaxation rounds) from the seed
    customers over the weighted transaction graph — the min-plus
    semiring sibling of `bfs_hop_distance` (hops count edges; this
    sums exact-cents edge weights, the supply-chain "cheapest
    connection" question).  Each edge carries the pair's minimum
    lineitem price; k Bellman-Ford rounds give exact answers for
    all paths of ≤k edges, replayed in DuckDB as the identical
    unrolled UNION-ALL + min CTE chain (iterative-oracle pattern).

    Spark rounds are relax-join + min-groupBy + localCheckpoint
    (constant plan depth); all-integer costs, so no float exposure
    anywhere.  Unreached nodes are absent (same contract as BFS).
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
        )
        .agg(
            F.min(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("w")
        )
    )
    we = tracked_persist(
        pair.select(
            F.col("cust").alias("src"), F.col("supp").alias("dst"), "w"
        ).unionAll(
            pair.select(
                F.col("supp").alias("src"), F.col("cust").alias("dst"), "w"
            )
        ),
        "cheapest_path.edges",
    )
    dist = (
        we.select(F.col("src").alias("node"))
        .filter(F.col("node") < _BFS_SRC_MAX)
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    for _ in range(_BF_ROUNDS):
        relax = (
            dist.join(we, dist.node == we.src)
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        dist = (
            dist.unionAll(relax)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    return dist.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("kind"),
        F.col("cost").alias("min_cost_cents"),
    )


_LPA_ITERS = 4


def _lpa_oracle() -> str:
    """DuckDB oracle for label-propagation communities — the same
    fixed 4-round synchronous majority-vote iteration, unrolled as
    chained aggregate CTEs.  Every quantity is an INTEGER (labels,
    counts, argmax tie-broken by min label), so the value hash is
    exact with no rounding analysis at all — the all-integer end of
    the finite-iteration-replay pattern."""
    steps = []
    for k in range(1, _LPA_ITERS + 1):
        steps.append(f"""c{k} AS (
    SELECT e.dst AS node, p.lab, count(*) AS cnt
    FROM l{k - 1} p JOIN edges e ON e.src = p.node
    GROUP BY e.dst, p.lab
),
l{k} AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM c{k}
    ) WHERE rn = 1
)""")
    chain = ",\n".join(steps)
    return f"""
WITH ed AS (
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + {_SUPP_OFFSET} AS supp
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 10 = 0
),
edges AS (
    SELECT cust AS src, supp AS dst FROM ed
    UNION ALL
    SELECT supp, cust FROM ed
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node AS lab FROM nodes),
{chain}
SELECT lab AS community,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node
FROM l{_LPA_ITERS}
GROUP BY lab
"""


@register(
    "label_propagation_communities",
    survey="graph (extension: synchronous label-propagation communities, unrolled all-integer oracle)",
    oracle=_lpa_oracle(),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    customer↔supplier transaction graph: every node starts as its own
    label; each round, a node adopts the MAJORITY label among its
    neighbors (ties broken by the smallest label) — fixed 4 rounds,
    fully deterministic.  Output: per surviving community, its size
    and canonical (minimum) member.

    Each round is ONE equi-join (edges ⋈ labels on src) and TWO
    key-local aggregates (neighbor-label counts on (dst, label), then
    the per-node argmax window partitioned by node) — the identical
    shuffle profile as a PageRank round, with `localCheckpoint`
    truncating lineage.  Round count is fixed by construction, so the
    sf10 invariance the iterative tier measures applies verbatim.
    The DuckDB twin unrolls the same 4 rounds; with labels, counts,
    and tie-breaks all integers, parity is exact with no float
    analysis anywhere (see _lpa_oracle)."""
    edges = transaction_edges(spark, sf_dir).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    for _ in range(_LPA_ITERS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node2"), "lab")
            .groupBy(F.col("node2").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            topk_ranked(cnt, "PARTITION BY node ORDER BY cnt DESC, lab ASC", 1)
            .select("node", "lab")
            .localCheckpoint()
        )
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
    )
