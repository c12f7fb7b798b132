"""Graph operators over relational edge tables (iterative DataFrame loops).

The connected-components family lives in ``operators/dedup.py`` (min-label
propagation + large-star/small-star) because its consumer is near-dup
clustering; this module holds the general-purpose iterative graph ops.

Scale notes: PageRank here is the standard join-aggregate formulation —
each iteration is one (src-keyed) equi-join of the edge table against the
current rank vector plus one dst-keyed sum. Both shuffles key on the node
id, so a pre-partitioned/bucketed edge table reuses its layout across all
iterations. The rank vector is node-vocabulary-sized (|V| rows, not |E|),
so AQE broadcasts it automatically when |V| is small; nothing here is ever
all-pairs. PageRank's 5 fixed iterations keep the plan shallow without
truncation. The loops that run to a fixpoint (BFS, min-plus SSSP, k-core)
go through ``iterate.fixpoint``, which checkpoints every round and owns
the convergence check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import fixpoint
from .text import persist_scoped


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration weighted PageRank.

    ``edges`` must carry per-src row-normalized weights (sum of ``weight``
    over each src == 1). Returns (node, pr). Dangling nodes (no out-edges)
    keep the teleport term but do not redistribute their mass — the
    standard "lost mass" simplification; callers whose graphs have dangling
    nodes and need a stochastic matrix should add uniform out-edges first.

    The node count is a driver-side scalar — bounded by the node
    vocabulary, the same bounded-``collect`` contract as the centroid and
    percentile operators.
    """
    # persist-scoped (r15, guide §5.3): the edge projection and the node
    # vocabulary are consumed by EVERY iteration (plus the count action)
    # — uncached, the caller's edge-extraction pipeline re-ran once per
    # round; cached, the rounds iterate over the vocabulary-bounded
    # tables only
    e = persist_scoped(
        edges.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("node"),
            F.col(weight).alias("_w"),
        )
    )
    nodes = persist_scoped(
        e.select(F.col("_src").alias("node"))
        .union(e.select("node"))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))
    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            e.join(ranks.select(F.col("node").alias("_src"), "pr"), "_src")
            .groupBy("node")
            .agg(F.sum(F.col("pr") * F.col("_w")).alias("_s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("pr"),
        )
    return ranks


def _triangles(edges: DataFrame, a: str, b: str):
    """Degree-oriented triangle enumeration shared by the triangle
    operators: returns (e, deg, tri) with e the (a, b) edge projection,
    deg (node, deg) and tri one (p, x, y) row per triangle.

    Scale design — degree orientation (Cohen 2009 / Suri-Vassilvitskii
    WWW'11 "Counting triangles and the curse of the last reducer"): each
    undirected edge is directed from its LOWER-(degree, id) endpoint to
    the higher one, so every node's out-degree is O(sqrt(|E|)) and the
    wedge self-join emits O(|E|^1.5) candidates total instead of
    sum(deg^2) — a hub with degree d contributes d*(d-1)/2 wedges under a
    naive orientation but only O(|E|) under this one. Each triangle has
    exactly one node p with two out-edges in this DAG, so the closing-edge
    join emits it exactly once. Three shuffles: degree agg, wedge
    self-join on the pivot node, closing-edge equi-join."""
    e = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # direct each edge from lower (deg, id) to higher (deg, id)
    d = (
        e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    w1 = d.select(F.col("u").alias("p"), F.col("v").alias("x"))
    w2 = d.select(F.col("u").alias("p"), F.col("v").alias("y"))
    wedges_dir = w1.join(w2, "p").filter(F.col("x") < F.col("y"))
    closing = d.select(
        F.least("u", "v").alias("cx"), F.greatest("u", "v").alias("cy")
    )
    tri = wedges_dir.join(
        closing,
        (F.least("x", "y") == F.col("cx")) & (F.greatest("x", "y") == F.col("cy")),
    ).select("p", "x", "y")
    return e, deg, tri


def triangle_stats(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle census of an undirected simple graph given as
    canonical edges (``a`` < ``b``, one row per edge): node/edge/wedge/
    triangle counts plus the global clustering coefficient
    (3*triangles / wedges). Triangles come from ``_triangles``'s
    degree-oriented enumeration, counted once each.
    """
    e, deg, tri = _triangles(edges, a, b)
    n_tri = tri.count()
    summary = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
            .cast("bigint")
            .alias("n_wedges"),
        )
    )
    return summary.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.lit(n_tri).cast("bigint").alias("n_triangles"),
        F.round(
            F.lit(3.0) * n_tri / F.when(F.col("n_wedges") > 0, F.col("n_wedges")),
            6,
        ).alias("clustering"),
    )


def edge_triangle_support(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Per-edge triangle support |N(u) ∩ N(v)| of an undirected simple
    graph given as canonical edges (``a`` < ``b``): the inner step of
    k-truss peeling (Cohen 2008). Returns (a, b, support) for every edge
    participating in >= 1 triangle.

    Each triangle from ``_triangles`` (enumerated once, O(|E|^1.5) wedge
    candidates) is exploded to its 3 canonical edges and hash-counted:
    four shuffles total (degree agg, wedge join, closing-edge join,
    support agg)."""
    _, _, tri = _triangles(edges, a, b)
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("p", "x").alias("ea"),
                    F.greatest("p", "x").alias("eb"),
                ),
                F.struct(
                    F.least("p", "y").alias("ea"),
                    F.greatest("p", "y").alias("eb"),
                ),
                F.struct(
                    F.least("x", "y").alias("ea"),
                    F.greatest("x", "y").alias("eb"),
                ),
            )
        ).alias("s")
    ).select("s.ea", "s.eb")
    return sides.groupBy("ea", "eb").agg(
        F.count(F.lit(1)).alias("support")
    ).select(F.col("ea").alias(a), F.col("eb").alias(b), "support")


def _undirected(edges: DataFrame, a: str, b: str, *extra) -> DataFrame:
    """(src, dst, *extra) with both directions of every edge, deduplicated,
    persisted in the build's cache scope and filled once: every round of
    the BFS and SSSP loops joins against it, and un-cached each round's
    checkpoint would re-run the caller's edge plan."""
    return persist_scoped(
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"), *extra)
        .union(edges.select(F.col(b).alias("src"), F.col(a).alias("dst"), *extra))
        .distinct(),
        eager=True,
    )


def _bfs(edges: DataFrame, start: DataFrame, max_hops: int, a: str, b: str) -> DataFrame:
    """Level-synchronous BFS from ``start`` (key columns ending in ``n``):
    returns ``start``'s columns plus ``dist``, the minimum hop count per
    key, bounded at ``max_hops``.

    Round r expands only the frontier (rows with dist == r-1): one
    (n)-keyed equi-join against the symmetrized edges, a distinct, and an
    anti-join against the visited set, so state is |keys| x |reached|
    rows, never per-path. Level order makes first discovery the minimum
    distance. A round that adds nothing is the fixpoint; reaching
    ``max_hops`` first is the bounded-hop contract, not an error."""
    und = _undirected(edges, a, b).withColumnRenamed("src", "n")
    keys = start.columns

    def step(visited: DataFrame, r: int) -> DataFrame:
        nxt = (
            visited.filter(F.col("dist") == r - 1)
            .select(*keys)
            .join(und, "n")
            .select(*[c for c in keys if c != "n"], F.col("dst").alias("n"))
            .distinct()
            .join(visited.select(*keys), keys, "left_anti")
            .withColumn("dist", F.lit(r))
        )
        return visited.unionByName(nxt)

    visited, _ = fixpoint(start.distinct().withColumn("dist", F.lit(0)), step, max_hops)
    return visited


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    a: str = "a",
    b: str = "b",
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS over an undirected edge table: (n, dist) with
    dist = minimum hop count from ANY seed, bounded at ``max_hops``
    (``_bfs``). Paths are never enumerated (a recursive-CTE UNION ALL
    walk explodes combinatorially on dense graphs; this never does).
    """
    return _bfs(edges, seeds.select(F.col(node).alias("n")), max_hops, a, b)


def per_seed_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    a: str = "a",
    b: str = "b",
    node: str = "node",
) -> DataFrame:
    """Per-seed labeled BFS: (seed, n, dist) with dist = minimum hop
    count from THAT seed, bounded at ``max_hops`` — the primitive under
    per-node centrality readouts (harmonic/closeness over a seed
    cohort), where ``bfs_distances``'s any-seed minimum would conflate
    sources. Same loop (``_bfs``) with the seed id as a key column."""
    start = seeds.select(F.col(node).alias("seed"), F.col(node).alias("n"))
    return _bfs(edges, start, max_hops, a, b)


def minplus_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    a: str = "a",
    b: str = "b",
    w: str = "w",
    node: str = "node",
    converge: bool = False,
) -> DataFrame:
    """Bounded-round Bellman-Ford: minimum WEIGHTED distance (n, d) from
    any seed, exact for all shortest paths of <= ``rounds`` edges (the
    standard bounded-hop contract for iterative min-plus on a cluster —
    rounds is the latency knob, not a heuristic).

    Step: dist' = min(dist, min over incoming edges of dist[u] + w) — an
    equi-join of the current table against the symmetrized edge list, a
    (node) min-aggregate. With ``converge=True``, ``rounds`` is a hard
    CAP: the result is then the exact shortest-path table regardless of
    graph depth, and exhausting the cap before the fixpoint raises
    rather than silently under-relaxing. Weights should be integers for
    cross-engine exactness (float min-plus ties differ in last-ulp
    across engines). The oracle (queries.ORACLE_SSSP) UNROLLS the same
    rounds as CTE stages — same joins, same integer arithmetic.
    """
    und = _undirected(edges, a, b, F.col(w).alias("_w"))

    def step(dist: DataFrame, _r: int) -> DataFrame:
        relaxed = dist.join(und, dist["n"] == und["src"]).select(
            F.col("dst").alias("n"), (F.col("d") + F.col("_w")).alias("d")
        )
        return dist.unionByName(relaxed).groupBy("n").agg(F.min("d").alias("d"))

    dist0 = seeds.select(F.col(node).alias("n")).distinct().withColumn(
        "d", F.lit(0).cast("long")
    )
    dist, converged = fixpoint(dist0, step, rounds)
    if converge and not converged:
        raise RuntimeError(
            f"minplus_sssp did not converge within {rounds} rounds"
        )
    return dist


def kcore(edges: DataFrame, k: int, max_rounds: int = 64, a: str = "a", b: str = "b") -> DataFrame:
    """TRUE k-core by iterative peeling: each round drops nodes of degree
    < k and restricts edges to survivors (one degree agg + two
    semi-joins), until a round removes nothing.

    Reference parity: the reference has no graph surface; this is the
    subgraph-density primitive a spam/bot cohort audit needs. Raises
    RuntimeError when ``max_rounds`` is exhausted before the fixpoint
    rather than silently returning a superset of the core (the failure
    mode a fixed-round unroll hides).
    """

    def step(e: DataFrame, _r: int) -> DataFrame:
        adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        keep = (
            adj.groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        return (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .select("a", "b")
        )

    e0 = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    core, converged = fixpoint(e0, step, max_rounds)
    if not converged:
        raise RuntimeError(
            f"kcore did not converge within {max_rounds} rounds (still peeling)"
        )
    return core


def local_clustering(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Per-node local clustering coefficient lcc(v) = 2 T(v) / (deg(v)
    (deg(v)-1)) of an undirected simple graph (canonical ``a`` < ``b``
    edges) — the node-level refinement of :func:`triangle_stats`'s global
    census (transitivity): which nodes sit in tight cliques vs open hubs.

    Each triangle from ``_triangles``'s degree-oriented enumeration
    credits ALL THREE corners via a 3-row explode (map-side, no extra
    shuffle beyond the per-node count agg). Nodes with deg < 2 are
    emitted with lcc NULL (no wedge to close — undefined, not 0).
    Returns (node, deg, triangles, lcc)."""
    _, deg, tri = _triangles(edges, a, b)
    corners = (
        tri.select(F.explode(F.array("p", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        )
        .withColumn(
            "lcc",
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.col("triangles")
                / (F.col("deg").cast("double") * (F.col("deg") - 1.0)),
            ),
        )
    )
