"""Graph analytics over the events-derived interaction graph: triangle
counting and common-neighbor link prediction.

Companions to PageRank (plans/iterative.py — reference
src/tests/source/PageRank.cc): the reference's graph surface is the
client-driven JoinComp+AggregateComp loop; these are the non-iterative
graph workloads the same join algebra supports, part of the
beyond-reference analytics surface.

Design for 100 TB:

- **Triangle counting uses degree orientation** (the classic
  Schank–Wagner/Cohen MapReduce trick): every undirected edge is directed
  from the endpoint with lower (degree, id) to the higher one.  Each
  triangle is then enumerated exactly once, and — the scale property — the
  out-degree of ANY node under this orientation is O(√m), so the wedge
  join's per-key fan-out is bounded even for power-law hubs: a node with
  10⁶ undirected neighbors contributes wedges only through its ≤O(√m)
  higher-ranked neighbors, not deg² pairs.  The wedge→closing-edge check is
  an equi-join on (x, z), co-partitioned with the oriented edge list.
- **Common-neighbor pairs center the join on the shared neighbor** — one
  self-join of the adjacency list keyed by the center node.  Unlike the
  triangle join, this is inherently deg(center)² per center (that IS the
  output size); the production knob is ``center_degree_cap``, which drops
  centers above a degree ceiling (standard link-prediction practice:
  common-neighbor evidence through a celebrity hub is near-meaningless,
  and the cap bounds the quadratic term at cap²·n_centers).  The cap is
  OFF in the oracle-gated query (test graphs have no hubs) and exercised
  in tests.  Graphs whose adjacency bitmap fits the driver skip the join
  and score pairs there (``common_neighbor_pairs``).
- Adjacency/edge frames are lazily checkpointed once and reused across the
  deg join and both wedge sides, so the events scan runs once.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lachesis_spark.plans.iterative import PR_MOD, _edges

from lachesis_spark.operators.core import barrier as _barrier
from lachesis_spark.operators.core import driver_edges, driver_frame

TOP_PAIRS = 20


def undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected edge list (a < b, deduped both directions)."""
    e = _edges(spark, sf_dir)
    return (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _directed(und: DataFrame) -> DataFrame:
    """Both directions of every undirected edge, as (u, v)."""
    return und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def oriented_edges(und: DataFrame) -> DataFrame:
    """Direct each edge from lower (deg, id) to higher (deg, id) — bounds
    every out-degree at O(√m) regardless of hub size."""
    deg = degrees(und)
    j = (
        und.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("dega")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("degb")), "b")
    )
    # und guarantees a < b, so the (dega == degb) tie keeps a→b
    a_first = (F.col("dega") < F.col("degb")) | (F.col("dega") == F.col("degb"))
    return j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )


def triangle_counts(und: DataFrame) -> DataFrame:
    """Per-node triangle participation: wedge join over the oriented edges
    + closing-edge equi-join; each triangle enumerated once, then exploded
    to its three corners."""
    o = oriented_edges(und).transform(_barrier)
    wedges = (
        o.select(F.col("u").alias("x"), F.col("w").alias("y"))
        .join(o.select(F.col("u").alias("y"), F.col("w").alias("z")), "y")
    )
    tris = wedges.join(
        o.select(F.col("u").alias("x"), F.col("w").alias("z")), ["x", "z"]
    )
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("node")
    )


# Bytes the dense regime may hold on the driver: the n·⌈n/64⌉·8-byte
# adjacency bitmap plus 16 B per collected directed edge.  A byte bound of
# its own, not core.DRIVER_LOOP_ROW_LIMIT: the kernel never loops over the
# edge rows, and the ×10 probe graph (15k nodes, 1.46M directed edges, so
# over the row limit) must stay here, because its hubs' deg² term makes
# the wedge join infeasible (SCALE.md).  64 MiB holds it (28 MB bitmap +
# 23 MB edges).
DENSE_BYTES_MAX = 1 << 26

# float32 bytes of one unpacked bitmap tile in the pool product
_TILE_BYTES = 1 << 24


def _edge_node_counts(und: DataFrame) -> tuple[int, int]:
    """(edges, nodes) of an undirected edge list in one job: edge count =
    half the endpoint rows, node count = exact distinct endpoints."""
    mn = (
        und.select(F.col("a").alias("x"))
        .unionAll(und.select(F.col("b").alias("x")))
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("m"),
            F.count_distinct(F.col("x")).alias("n"),
        )
        .first()
    )
    return int(mn["m"]), int(mn["n"])


def common_neighbor_pairs(
    und: DataFrame,
    k: int = TOP_PAIRS,
    center_degree_cap: int | None = None,
) -> DataFrame:
    """Top-k NON-adjacent node pairs by common-neighbor count (the classic
    link-prediction score).

    Two size-gated regimes:

    - **Dense (bitmap + collected edges ≤ DENSE_BYTES_MAX)**: the wedge
      join generates Σ deg(c)² pairs — 30M rows to shuffle at sf0.1 for a
      graph whose whole adjacency STRUCTURE is 280 KB of bitmaps.  Instead
      one bounded Arrow collect (``core.driver_edges``) brings the edges
      to the driver, and :func:`_common_neighbors_driver` scores the
      pairs there with BLAS — the gather-and-compute-on-one-node pattern
      of the graph and LA loops.
    - **Large graph**: the wedge self-join on the shared center — the only
      shape that scales when the bitmap does not fit one node — with the
      ``center_degree_cap`` knob for the inherent deg(center)² hub term
      (standard link-prediction practice; common-neighbor evidence
      through a celebrity hub is near-meaningless).  A cap always takes
      this path.
    """
    if center_degree_cap is None:
        und = und.transform(_barrier)  # materialized by the probe
        g = driver_edges(_directed(und), DENSE_BYTES_MAX // 16)
        if g is not None:
            n = len(g[0])
            if n * ((n + 63) // 64) * 8 + 16 * len(g[1]) <= DENSE_BYTES_MAX:
                x, y, c = _common_neighbors_driver(*g, k)
                return driver_frame(und.sparkSession, x=x, y=y, n_common=c)
    adj = (
        und.select(F.col("a").alias("n"), F.col("b").alias("nbr"))
        .unionAll(und.select(F.col("b").alias("n"), F.col("a").alias("nbr")))
        .transform(_barrier, eager=True)
    )
    centers = adj
    if center_degree_cap is not None:
        deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
        centers = adj.join(
            deg.filter(F.col("deg") <= center_degree_cap).select("n"), "n"
        )
    pairs = (
        centers.select("n", F.col("nbr").alias("x"))
        .join(centers.select("n", F.col("nbr").alias("y")), "n")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    non_adjacent = pairs.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return non_adjacent.orderBy(
        F.col("n_common").desc(), F.col("x"), F.col("y")
    ).limit(k)


def _common_neighbors_driver(nodes, u, v, k):
    """Exact top-k of the dense regime on the driver, as (x, y, n_common)
    arrays in (n_common desc, x, y) order, with FAGIN-STYLE THRESHOLD
    TERMINATION: c(x, y) = |N(x) ∩ N(y)| ≤ min(deg x, deg y), so the exact
    top-k is found by scoring pairs within a degree-descending pool of D
    nodes and growing D (×4 per round) until the kth score exceeds the
    degree of the (D+1)-th node — every pair outside the pool is then
    provably below the kth.  On hub-heavy graphs (the ×10 probe: 100 dst
    hubs at deg ~7000 over ~190-deg users) the bound fires at D = 512; on
    degree-uniform graphs it cannot fire and the last round scores all
    n²/2 pairs, which the DENSE_BYTES_MAX gate keeps bounded.  Counts are
    always over FULL bitmaps (all n nodes as potential common neighbors)
    — the pool restricts which PAIRS are scored, never the evidence."""
    n = len(nodes)
    bm = np.zeros((n, (n + 63) // 64), dtype=np.uint64)
    np.bitwise_or.at(bm, (u, v >> 6), np.uint64(1) << (v & 63).astype(np.uint64))
    deg = np.bincount(u, minlength=n)
    # degree-descending, id-ascending tiebreak (deterministic)
    pool = np.argsort(-deg, kind="stable")
    D = max(4 * k, 512)
    while True:
        D = min(D, n)
        x, y, c = _pool_top_k(bm, pool[:D], nodes, k)
        # every unscored pair has one endpoint outside the pool, so its
        # count is bounded by that endpoint's degree.  Strict inequality:
        # an unscored pair tying the kth count could still outrank it
        # under the (n_common desc, x asc, y asc) tiebreak.
        if D == n or (len(c) == k and c[-1] > deg[pool[D]]):
            return x, y, c
        D *= 4


def _unpack(bm, rows):
    """Bitmap rows as a float32 0/1 tile, column j = node j."""
    bits = np.unpackbits(bm[rows].view(np.uint8), axis=1, bitorder="little")
    return bits.astype(np.float32)


def _pool_top_k(bm, pool, nodes, k):
    """Top-k non-adjacent pairs within ``pool`` as (x, y, n_common) arrays,
    x < y as node ids.  Per tile pair one float32 BLAS product U_a·U_bᵀ
    gives every pair's common-neighbor count (exact: counts ≤ n < 2^24);
    U_a's own columns at the b tile's nodes mask the adjacent pairs.  Only
    entries that can still enter the top-k leave a tile: at least the
    running kth count and the tile's own kth."""
    t = min(1024, _TILE_BYTES // (256 * max(bm.shape[1], 1)))
    best_c = best_x = best_y = np.empty(0, dtype=np.int64)
    for a in range(0, len(pool), t):
        pa = pool[a : a + t]
        ua = _unpack(bm, pa)
        for b in range(a, len(pool), t):
            pb = pool[b : b + t]
            s = ua @ (ua if b == a else _unpack(bm, pb)).T
            s[ua[:, pb] > 0] = 0
            if b == a:
                s = np.triu(s, 1)  # each pair once, no self pairs
            floor = max(
                1,
                best_c[-1] if len(best_c) == k else 0,
                np.partition(s, -k, axis=None)[-k] if s.size >= k else 0,
            )
            i, j = np.nonzero(s >= floor)
            xs, ys = nodes[pa[i]], nodes[pb[j]]
            c = np.concatenate([best_c, s[i, j].astype(np.int64)])
            lo = np.concatenate([best_x, np.minimum(xs, ys)])
            hi = np.concatenate([best_y, np.maximum(xs, ys)])
            keep = np.lexsort((hi, lo, -c))[:k]
            best_c, best_x, best_y = c[keep], lo[keep], hi[keep]
    return best_x, best_y, best_c


# ---------------------------------------------------------------------------
# registry queries + oracles
def graph_triangles(spark, sf_dir):
    return triangle_counts(undirected_edges(spark, sf_dir))


_SQL_EDGES = f"""
edges AS (
  SELECT DISTINCT user_id AS src, event_id % {PR_MOD} AS dst
  FROM events WHERE user_id <> event_id % {PR_MOD}
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
  WHERE src <> dst
)
"""

GRAPH_TRIANGLES_SQL = f"""
WITH {_SQL_EDGES},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node ORDER BY node
"""


def graph_common_neighbors(spark, sf_dir):
    return common_neighbor_pairs(undirected_edges(spark, sf_dir), k=TOP_PAIRS)


GRAPH_COMMON_NEIGHBORS_SQL = f"""
WITH {_SQL_EDGES},
adj AS (
  SELECT a AS n, b AS nbr FROM und
  UNION ALL SELECT b, a FROM und
),
pairs AS (
  SELECT a1.nbr AS x, a2.nbr AS y, CAST(count(*) AS BIGINT) AS n_common
  FROM adj a1 JOIN adj a2 ON a1.n = a2.n
  WHERE a1.nbr < a2.nbr
  GROUP BY a1.nbr, a2.nbr
)
SELECT p.x, p.y, p.n_common
FROM pairs p
ANTI JOIN und ON und.a = p.x AND und.b = p.y
ORDER BY p.n_common DESC, p.x, p.y LIMIT {TOP_PAIRS}
"""


# ---------------------------------------------------------------------------
# k-core peeling / onion decomposition
KCORE_ORACLE_DEPTH = 16  # unroll budget; > observed peel depth (≤5) at every
#                          sweep SF — a deeper peel would HASH-MISMATCH (the
#                          Spark side is depth-independent), never pass silently


def _kcore_driver(nodes, u, v, k):
    """Peel layers on the driver: per round, bincount the alive–alive
    edges into degrees and remove every alive node below ``k``."""
    n = len(nodes)
    alive = np.ones(n, dtype=bool)
    layer = np.zeros(n, dtype=np.int64)
    r = 0
    while True:
        r += 1
        both = alive[u] & alive[v]
        gone = alive & (np.bincount(u[both], minlength=n) < k)
        if not gone.any():
            return layer
        layer[gone] = r
        alive &= ~gone


def kcore_layers(und: DataFrame, k: int | None = None, n_parts: int = 32) -> DataFrame:
    """Onion decomposition by k-core peeling: repeatedly remove every node
    with fewer than ``k`` ALIVE neighbors; a node's ``layer`` is the round
    that removed it (1-based), survivors — the k-core — get layer 0.
    ``k`` defaults to the mean degree, ⌊2m / n⌋.

    The convergence-checked production form (same operational shape as
    dedup's ``cc_converged``): each sweep is one co-partitioned
    edges⋈alive⋈alive join + one degree aggregation, shuffle width scoped
    per-frame via explicit ``repartition(n_parts)`` (never the session
    conf), alive set checkpointed per sweep, exit when a sweep removes
    nothing.  Sweep count = peel depth (graph-dependent, typically
    O(log n) on heavy-tailed graphs); the alive frame only shrinks, so
    per-sweep cost falls monotonically.  Graphs under the driver gate
    (:func:`~lachesis_spark.operators.core.driver_edges`) peel in numpy
    instead."""
    und = und.transform(_barrier)  # materialized by the probe
    g = driver_edges(_directed(und))
    if g is not None:
        if k is None:
            k = len(g[1]) // len(g[0])
        layer = _kcore_driver(*g, k)
        return driver_frame(und.sparkSession, node=g[0], layer=layer).orderBy("node")
    if k is None:
        m, n = _edge_node_counts(und)
        k = 2 * m // n
    # edges live partitioned by the NEIGHBOR endpoint v: the per-sweep
    # alive-filter join (on v) is then co-partitioned and exchange-free,
    # and the only shuffle a sweep pays is the degree groupBy on u.
    # Filtering dead u's is NOT needed before the groupBy — their degree
    # rows are dropped by the alive-side join below, and the bytes they
    # add to the one shuffle cost less than a second edge-sized exchange.
    e = _directed(und).repartition(n_parts, "v").transform(_barrier, eager=True)
    alive = (
        e.select(F.col("u").alias("node")).distinct()
        .repartition(n_parts, "node")
        .transform(_barrier, eager=True)
    )
    layers = None
    r = 0
    while True:
        r += 1
        alive_v = alive.select(F.col("node").alias("v"))
        deg = (
            e.join(alive_v, "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # ONE materializing action per sweep (as cc_converged has per
        # round): annotate every alive node with its keep/remove verdict
        # in a single lazily-checkpointed frame — the exit-check count is
        # the job that materializes it, and the next sweep's alive plus
        # this sweep's removed layer are both cheap filters over the
        # persisted RDD, so the degree join runs once per sweep.  Nodes
        # with zero alive neighbors are absent from deg — the left join's
        # coalesce(0) removes them.
        degn = deg.select(F.col("u").alias("node"), "d")
        ann = (
            alive.join(degn, "node", "left")
            .select("node", (F.coalesce(F.col("d"), F.lit(0)) >= k).alias("keep"))
            .repartition(n_parts, "node")
            .transform(_barrier)
        )
        n_removed = ann.filter(~F.col("keep")).count()
        if n_removed == 0:
            break
        removed = ann.filter(~F.col("keep")).select(
            "node", F.lit(r).cast("long").alias("layer")
        )
        if layers is None:
            layers = removed
        else:
            layers = layers.unionByName(removed).transform(_barrier)
        alive = ann.filter(F.col("keep")).select("node")
    core = alive.select("node", F.lit(0).cast("long").alias("layer"))
    out = core if layers is None else layers.unionByName(core)
    return out.orderBy("node")


def graph_kcore(spark, sf_dir):
    """Onion layers of the events graph at k = mean degree.  Under the
    driver gate the one edge collect gives k and the peel; above it a
    2-number (m, n) aggregate fixes k and the peel loop runs
    engine-side."""
    return kcore_layers(undirected_edges(spark, sf_dir))


def _kcore_oracle_sql(depth: int = KCORE_ORACLE_DEPTH) -> str:
    ctes = [
        "e AS MATERIALIZED (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)",
        "alive0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e)",
        "kk AS MATERIALIZED (SELECT CAST(FLOOR(2.0 * (SELECT count(*) FROM und)"
        " / (SELECT count(*) FROM alive0)) AS BIGINT) AS k)",
    ]
    for r in range(1, depth + 1):
        ctes.append(
            f"alive{r} AS MATERIALIZED (\n"
            f"  SELECT u AS node FROM (\n"
            f"    SELECT e.u, count(*) AS d FROM e\n"
            f"    JOIN alive{r - 1} x ON e.u = x.node\n"
            f"    JOIN alive{r - 1} y ON e.v = y.node\n"
            f"    GROUP BY e.u)\n"
            f"  WHERE d >= (SELECT k FROM kk))"
        )
    removed = "\nUNION ALL\n".join(
        f"SELECT node, CAST({r} AS BIGINT) AS layer FROM alive{r - 1}\n"
        f"WHERE node NOT IN (SELECT node FROM alive{r})"
        for r in range(1, depth + 1)
    )
    return (
        f"WITH {_SQL_EDGES},\n"
        + ",\n".join(ctes)
        + f"\n{'SELECT node, layer FROM ('}{removed}\n"
        + f"UNION ALL SELECT node, CAST(0 AS BIGINT) FROM alive{depth})\n"
        + "ORDER BY node"
    )


GRAPH_KCORE_SQL = _kcore_oracle_sql()


# ---------------------------------------------------------------------------
# single-source shortest paths (BFS hop distance)
SSSP_ORACLE_DEPTH = 32  # oracle recursion bound; > observed eccentricity at
#                         every sweep SF — a deeper BFS level would surface
#                         as rows the oracle lacks (hash mismatch), never
#                         pass silently.  The Spark side is depth-independent.


def _bfs_driver(nodes, u, v, src):
    """Frontier BFS on the driver over a CSR adjacency (argsort +
    searchsorted): (reached node ids, hop distance); a source outside the
    graph reaches only itself."""
    n = len(nodes)
    s = int(np.searchsorted(nodes, src))
    if s == n or nodes[s] != src:
        return np.array([src]), np.array([0])
    order = np.argsort(u, kind="stable")
    nbr = v[order]
    start = np.searchsorted(u[order], np.arange(n + 1))
    dist = np.full(n, -1, dtype=np.int64)
    dist[s] = 0
    frontier = np.array([s])
    level = 0
    while frontier.size:
        level += 1
        lo, cnt = start[frontier], start[frontier + 1] - start[frontier]
        # every frontier node's neighbor slice, gathered in one index array
        pos = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
        nxt = np.unique(nbr[pos])
        frontier = nxt[dist[nxt] < 0]
        dist[frontier] = level
    seen = dist >= 0
    return nodes[seen], dist[seen]


def sssp_hops(und: DataFrame, src: int | None = None, n_parts: int = 32) -> DataFrame:
    """Hop distances from ``src`` (default: the smallest node id) by
    frontier BFS — the convergence-checked production loop (same shape
    as ``kcore_layers``): per level, one co-partitioned frontier⋈edges
    join expands the frontier, one anti-join against the visited set
    removes known nodes; exit when a level adds nothing.  Level count =
    the source's eccentricity (small-world graphs: O(log n)); the
    per-level join is frontier-sized, never graph-sized, and both frames
    are explicitly repartitioned on their key — the session shuffle conf
    is never touched.  Unreachable nodes are absent (standard BFS
    contract).  Graphs under the driver gate run :func:`_bfs_driver`."""
    spark = und.sparkSession
    und = und.transform(_barrier)  # materialized by the probe
    g = driver_edges(_directed(und))
    if g is not None:
        node, dist = _bfs_driver(*g, int(g[0][0]) if src is None else src)
        return driver_frame(spark, node=node, dist=dist)
    if src is None:
        src = int(und.agg(F.min("a")).first()[0])
    e = _directed(und).repartition(n_parts, "u").transform(_barrier, eager=True)
    dist = (
        spark.createDataFrame([(src, 0)], "node long, dist long")
        .repartition(n_parts, "node")
        .transform(_barrier, eager=True)
    )
    frontier = dist
    prev_frontier = None
    level = 0
    while True:
        level += 1
        # BFS locality (undirected graph): a neighbor of a distance-L node
        # has distance in {L-1, L, L+1}, so the "already visited" check
        # only needs the CURRENT and PREVIOUS frontiers — two
        # frontier-sized co-partitioned anti-joins — never the whole dist
        # accumulation (whose growing union carried UnknownPartitioning
        # and re-shuffled every level).  Per level: one exchange (the
        # expansion distinct); the expansion join, both anti-joins and
        # the exit count ride the pinned hash(node) layout, and the lazy
        # checkpoint makes the exit count the level's only action.
        nxt = (
            e.join(frontier.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .repartition(n_parts, "node")
            .join(frontier.select("node"), "node", "left_anti")
        )
        if prev_frontier is not None:
            nxt = nxt.join(prev_frontier.select("node"), "node", "left_anti")
        nxt = (
            nxt.select("node", F.lit(level).cast("long").alias("dist"))
            .transform(_barrier)
        )
        if nxt.count() == 0:  # one bounded action per level — the exit check
            break
        dist = dist.unionByName(nxt)
        prev_frontier = frontier
        frontier = nxt
    return dist


def graph_sssp(spark, sf_dir):
    """BFS level profile from the minimum node id of the events graph:
    per-distance node count + id extrema.  The full (node, dist) frame
    stays engine-side; only the eccentricity-sized histogram is returned
    (what a reachability dashboard actually renders), so result size is
    O(diameter) at any corpus scale."""
    d = sssp_hops(undirected_edges(spark, sf_dir))
    return (
        d.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("dist")
    )


GRAPH_SSSP_SQL = f"""
WITH RECURSIVE
{_SQL_EDGES.strip().rstrip()},
e AS MATERIALIZED (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
),
walk(node, dist) AS (
  SELECT (SELECT min(a) FROM und), CAST(0 AS BIGINT)
  UNION
  SELECT e.v, w.dist + 1 FROM e JOIN walk w ON e.u = w.node
  WHERE w.dist < {SSSP_ORACLE_DEPTH}
)
SELECT dist, count(*)::BIGINT AS n_nodes, min(node) AS min_node, max(node) AS max_node
FROM (SELECT node, min(dist) AS dist FROM walk GROUP BY node)
GROUP BY dist ORDER BY dist
"""


QUERIES = {
    "graph_triangles": graph_triangles,
    "graph_common_neighbors": graph_common_neighbors,
    "graph_kcore": graph_kcore,
    "graph_sssp": graph_sssp,
}

ORACLE = {
    "graph_triangles": GRAPH_TRIANGLES_SQL,
    "graph_common_neighbors": GRAPH_COMMON_NEIGHBORS_SQL,
    "graph_kcore": GRAPH_KCORE_SQL,
    "graph_sssp": GRAPH_SSSP_SQL,
}


# ---------------------------------------------------------------------------
# synchronous label propagation (community detection)
LPA_ROUNDS = 4  # FIXED round count so the oracle unrolls the identical
#                 arithmetic; deterministic tie-break (max count, then min
#                 label) makes every round reproducible cross-engine.


def _lpa_driver(nodes, u, v, rounds):
    """Synchronous LPA on the driver over node-index labels (ids sorted,
    so the smallest index is the smallest label): count each (node,
    neighbor label) vote, keep the highest count, ties to the smallest."""
    n = len(nodes)
    lab = np.arange(n)
    for _ in range(rounds):
        keys, c = np.unique(u * n + lab[v], return_counts=True)
        node, lbl = keys // n, keys % n
        o = np.lexsort((lbl, -c, node))
        # first row per node; every node has a neighbor, so one per node
        _, first = np.unique(node[o], return_index=True)
        lab = lbl[o][first]
    return nodes[lab]


def lpa_labels(und: DataFrame, rounds: int = LPA_ROUNDS, n_parts: int = 32) -> DataFrame:
    """Synchronous LPA: each round every node adopts its neighbors' most
    frequent label (ties -> smallest label).  Unlike connected components
    (pure min-propagation, finds CONNECTIVITY), frequency voting finds
    DENSER substructure inside a component.

    Scale shape: per round ONE co-partitioned edges⋈labels join + one
    (node, label)-count aggregation + one per-node argmax — all keyed on
    the node id, label frame checkpointed per round (the kcore/cc loop
    pattern); rounds are FIXED, not data-dependent.  Graphs under the
    driver gate vote in numpy (:func:`_lpa_driver`)."""
    und = und.transform(_barrier)  # materialized by the probe
    g = driver_edges(_directed(und))
    if g is not None:
        return driver_frame(und.sparkSession, node=g[0], lbl=_lpa_driver(*g, rounds))
    # FIXED round count and every frame used exactly once downstream, so
    # the whole loop runs LAZILY: all checkpoints are eager=False and the
    # caller's single final action materializes the full 4-round chain in
    # ONE Spark job (each round's checkpoint persists as a byproduct,
    # keeping lineage shallow for any re-reference).
    e = _directed(und).repartition(n_parts, "v").transform(_barrier)
    lab = (
        e.select(F.col("u").alias("node")).distinct()
        .select("node", F.col("node").alias("lbl"))
        .repartition(n_parts, "node")
        .transform(_barrier)
    )
    for _ in range(rounds):
        lv = lab.select(F.col("node").alias("v"), "lbl")
        votes = (
            e.join(lv, "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count desc, label asc): max(struct(c, -lbl))
        lab = (
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("s"))
            .select("node", (-F.col("s.neg")).alias("lbl"))
        )
        lab = lab.repartition(n_parts, "node").transform(_barrier)
    return lab


def graph_lpa(spark, sf_dir):
    """Community-size distribution after LPA_ROUNDS of label propagation:
    (community_size, n_communities) — the model-sized summary a community
    dashboard renders (per-node labels stay engine-side)."""
    lab = lpa_labels(undirected_edges(spark, sf_dir))
    sizes = lab.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("csize"))
    return (
        sizes.groupBy("csize")
        .agg(F.count(F.lit(1)).cast("long").alias("n_communities"))
        .orderBy("csize")
    )


def _lpa_oracle_sql(rounds: int = LPA_ROUNDS) -> str:
    ctes = [
        "e AS MATERIALIZED (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)",
        "lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM e)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"lab{r} AS MATERIALIZED (\n"
            f"  SELECT node, lbl FROM (\n"
            f"    SELECT e.u AS node, l.lbl, count(*) AS c,\n"
            f"           row_number() OVER (PARTITION BY e.u\n"
            f"                              ORDER BY count(*) DESC, l.lbl ASC) AS rn\n"
            f"    FROM e JOIN lab{r - 1} l ON e.v = l.node\n"
            f"    GROUP BY e.u, l.lbl)\n"
            f"  WHERE rn = 1)"
        )
    return (
        f"WITH {_SQL_EDGES},\n" + ",\n".join(ctes)
        + f"""
SELECT csize, count(*)::BIGINT AS n_communities FROM (
  SELECT lbl, count(*)::BIGINT AS csize FROM lab{rounds} GROUP BY lbl
)
GROUP BY csize ORDER BY csize"""
    )


GRAPH_LPA_SQL = _lpa_oracle_sql()

QUERIES["graph_lpa"] = graph_lpa
ORACLE["graph_lpa"] = GRAPH_LPA_SQL
