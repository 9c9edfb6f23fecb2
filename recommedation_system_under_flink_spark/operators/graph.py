"""Distributed PageRank over the click bipartite graph.

The reference's only "graph" computation is TextRank's vote — a
PageRank over a PER-DOCUMENT co-occurrence graph small enough to stay
local inside a UDF (TextRank.java:194-218; functions/text.py). This
module is the distributed counterpart for the graph that does NOT fit
in one task: the user↔news click graph, where PageRank gives a
popularity/centrality signal usable directly as a non-personalized
recommender (a principled upgrade of HotTopics' raw click counts).

Construction: nodes are users and news in one id space
(``2·user_id`` / ``2·news_id + 1``); each distinct (user, news) click
pair contributes both edge directions, so the walk alternates sides
and no node dangles (every node in the graph has degree ≥ 1 by
construction). A FIXED iteration count (no early exit) keeps the
computation bit-reproducible across engines, so the whole loop is
hash-compared against a DuckDB twin that unrolls the same iterations
as chained CTEs.

Every builder here reads the click graph through one pair of builders:
:func:`_click_pairs` / :func:`_click_edges` in Spark and
``_CLICK_GRAPH_CTES`` in the DuckDB twins (the item co-click projection
likewise through :func:`_cooc_edges` / ``_COOC_CTES``).

Scale notes (100 TB): each iteration is one edges⋈ranks equi-join plus
one sum-aggregation, both shuffling on node id — the standard BSP
PageRank layout (identical plan shape to the hash-min components loop,
operators/similarity.py). Edges and degrees persist across iterations;
ranks re-derive per round (lineage depth = K, bounded). Iteration
count is the usual convergence dial; parity with the oracle requires
it fixed, not adaptive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .quantize import ppm_value
from ..sources import CLICKS_CTE, clicks, with_ctes
from . import bsp

#: Damping factor and fixed iteration count (pinned for oracle parity).
PAGERANK_D = 0.85
PAGERANK_ITERS = 3

#: DuckDB twin of the click graph: the clicks, their distinct (user,
#: news) pairs, and the symmetric edge list in node space.
_CLICK_GRAPH_CTES = (
    CLICKS_CTE,
    "pairs AS (SELECT DISTINCT user_id, news_id FROM clicks)",
    """edges AS (
  SELECT user_id * 2 AS src, news_id * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT news_id * 2 + 1, user_id * 2 FROM pairs
)""",
)


def _click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user_id, news_id) click pairs: the bipartite graph."""
    return clicks(spark, sf_dir).select("user_id", "news_id").distinct()


def _click_edges(pairs: DataFrame) -> DataFrame:
    """The symmetric (src, dst) click graph in one node space — users
    ``2·user_id``, news ``2·news_id + 1`` — both directions of every
    pair. Lazy: a caller that loops over it persists it."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("user_id") * 2).alias("src"),
                    (F.col("news_id") * 2 + 1).alias("dst"),
                ),
                F.struct(
                    (F.col("news_id") * 2 + 1).alias("src"),
                    (F.col("user_id") * 2).alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _walk_step(edges: DataFrame, deg: DataFrame, ranks: DataFrame) -> DataFrame:
    """One random-walk contribution step shared by PageRank and PPR:
    ``w(dst) = Σ_{src→dst} r(src) / d(src)`` as (src, w) keyed by the
    receiving node. r/d is a function of the NODE, so it divides on
    the node-sized ranks⋈deg relation and joins edges once (guide §2.3:
    shuffle/probe fewer rows)."""
    contrib = ranks.join(deg, "src").select(
        "src", (F.col("r") / F.col("d")).alias("c")
    )
    return (
        edges.join(contrib, "src")
        .groupBy(F.col("dst").alias("src"))
        .agg(F.sum("c").alias("w"))
    )


def _pagerank_oracle(iters: int = PAGERANK_ITERS, d: float = PAGERANK_D) -> str:
    """DuckDB twin: the same fixed-iteration PageRank, unrolled as
    chained CTEs (recursive terms can't aggregate in standard SQL).
    Float parity: both engines sum doubles in data-dependent order, but
    all contributions are positive (no cancellation), so sums agree to
    ~13 significant digits — far inside the compare's 9."""
    ctes = [
        *_CLICK_GRAPH_CTES,
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        "r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         {1 - d} / (SELECT n FROM nn) + {d} * SUM({prev}.r / deg.d) AS r
  FROM edges e
  JOIN {prev} ON e.src = {prev}.node
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)"""
        )
        prev = f"r{i}"
    return with_ctes(f"SELECT node, r AS rank FROM {prev}", *ctes)


@register("graph_pagerank_clicks", _pagerank_oracle())
def graph_pagerank_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetric user↔news click graph,
    ``PAGERANK_ITERS`` fixed iterations, damping ``PAGERANK_D``.
    Returns (node, rank) for every node; news nodes are odd ids
    (``2·news_id + 1``), so a popularity recommender is one filter +
    top-K away."""
    edges = bsp.persist(_click_edges(_click_pairs(spark, sf_dir)))
    deg = bsp.persist(
        edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    )
    n_nodes = deg.count()  # materializes edges + deg before the loop
    if n_nodes == 0:
        return spark.createDataFrame([], "node long, rank double")

    teleport = (1.0 - PAGERANK_D) / n_nodes
    ranks = deg.select("src", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(PAGERANK_ITERS):
        ranks = _walk_step(edges, deg, ranks).select(
            "src", (F.lit(teleport) + F.lit(PAGERANK_D) * F.col("w")).alias("r")
        )
    # Materialize the small (node, rank) result, truncating the K-round
    # lineage before the scope releases edges/deg (operators/bsp.py).
    return bsp.checkpoint_result(
        ranks.select(F.col("src").alias("node"), F.col("r").alias("rank"))
    )


#: Fixed BFS horizon (pinned for oracle parity; the convergence dial).
BFS_MAX_HOPS = 4


def _bfs_oracle(hops: int = BFS_MAX_HOPS) -> str:
    """DuckDB twin: recursive CTE with UNION (per-level dedup of
    (node, dist) pairs, so the recursion is bounded by nodes×hops even
    on the cyclic bipartite graph), then MIN(dist) per node."""
    ctes = [
        *_CLICK_GRAPH_CTES,
        "seed AS (SELECT MIN(news_id) * 2 + 1 AS node FROM pairs)",
    ]
    body = f""",
walk(node, dist) AS (
  SELECT node, 0 FROM seed
  UNION
  SELECT e.dst, walk.dist + 1
  FROM walk JOIN edges e ON e.src = walk.node
  WHERE walk.dist < {hops}
)
SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM walk GROUP BY node"""
    return "WITH RECURSIVE " + ",\n".join(ctes) + body


@register("graph_bfs_hops", _bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest hop-distance from a pinned seed (the smallest
    clicked news node) over the user↔news click graph, horizon
    ``BFS_MAX_HOPS`` — the "users within N hops of this item" /
    collaborative-neighborhood primitive.

    Level-synchronous BSP: each round expands the previous level's
    frontier through one edges⋈frontier equi-join + distinct — the
    same bounded-lineage loop shape as PageRank above, shuffling on
    node id. The final MIN(dist) per node collapses revisits (a node
    reached at hop h is re-reached at h+2 on the bipartite graph).
    The recursive-CTE oracle mirrors exactly this per-level dedup.

    Scale: frontier size is bounded by |nodes|; each round is one
    shuffle join against the (persisted) edge list, and each level is
    truncated with an eager ``localCheckpoint`` because it feeds both
    the next expansion and the final union (the loop rule in
    operators/bsp.py). Horizon fixed for
    engine parity — at 100 TB the horizon is also the cost cap, since
    round h touches only the h-hop neighborhood."""
    pairs = _click_pairs(spark, sf_dir)
    edges = bsp.persist(_click_edges(pairs))
    seed_row = pairs.agg(F.min("news_id").alias("m")).first()
    if seed_row is None or seed_row["m"] is None:
        return spark.createDataFrame([], "node long, dist int")

    seed = int(seed_row["m"]) * 2 + 1
    frontier = spark.createDataFrame([(seed, 0)], "node long, dist int")
    levels = [frontier]
    for h in range(1, BFS_MAX_HOPS + 1):
        frontier = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(h).cast("int"))
            .localCheckpoint(eager=True)
        )
        levels.append(frontier)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return bsp.checkpoint_result(
        out.groupBy("node").agg(F.min("dist").cast("int").alias("dist"))
    )


#: Personalized-PageRank iterations (pinned for oracle parity).
PPR_ITERS = 3


def _ppr_oracle(iters: int = PPR_ITERS, d: float = PAGERANK_D) -> str:
    """DuckDB twin of :func:`graph_ppr_recommend`: same seed, same
    unrolled restart-walk iterations, same exclusion + quantized
    top-K."""
    ctes = [
        *_CLICK_GRAPH_CTES,
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)",
        "seed AS (SELECT MIN(user_id) * 2 AS node FROM pairs)",
        "r0 AS (SELECT node, 1.0 AS r FROM seed)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT node,
         CASE WHEN node = (SELECT node FROM seed) THEN {1 - d} ELSE 0 END
           + {d} * COALESCE(walk.w, 0) AS r
  FROM (
    SELECT deg.src AS node FROM deg
  ) nodes
  LEFT JOIN (
    SELECT e.dst AS node, SUM({prev}.r / deg.d) AS w
    FROM edges e
    JOIN {prev} ON e.src = {prev}.node
    JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) walk USING (node)
)"""
        )
        prev = f"r{i}"
    body = f"""SELECT news_id, score FROM (
  SELECT (node - 1) // 2 AS news_id, ROUND(r, 9) AS score,
         ROW_NUMBER() OVER (ORDER BY ROUND(r, 9) DESC, node ASC) AS rnk
  FROM {prev}
  WHERE node % 2 = 1
    AND r > 0
    AND (node - 1) // 2 NOT IN (
      SELECT news_id FROM pairs WHERE user_id * 2 = (SELECT node FROM seed))
) WHERE rnk <= 10"""
    return with_ctes(body, *ctes)


@register("graph_ppr_recommend", _ppr_oracle())
def graph_ppr_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Personalized PageRank** recommendations for a pinned seed user
    (the smallest clicking user_id): a restart walk on the click
    bipartite graph where ALL teleport mass returns to the seed, so
    rank concentrates in the seed's multi-hop neighborhood — the
    graph-based personalized recommender (cf. item-CF's one-hop
    co-occurrence: PPR is its multi-hop generalization). Already-read
    news are excluded; top-10 by quantized score with pinned ties.

    Same BSP loop as :func:`graph_pagerank_clicks` with two deltas: the
    teleport term is the seed indicator instead of 1/N, and unranked
    nodes stay at 0 (mass spreads outward from the seed). At 100 TB a
    per-user serving path would batch many seeds as one (seed, node)
    keyed loop — same plan, one more key column."""
    pairs = _click_pairs(spark, sf_dir)
    edges = bsp.persist(_click_edges(pairs))
    deg = bsp.persist(
        edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    )
    seed_row = pairs.agg(F.min("user_id").alias("m")).first()
    if seed_row is None or seed_row["m"] is None:
        return spark.createDataFrame([], "news_id long, score double")

    seed = int(seed_row["m"]) * 2
    d = PAGERANK_D
    ranks = spark.createDataFrame([(seed, 1.0)], "src long, r double")
    nodes = deg.select("src")
    for _ in range(PPR_ITERS):
        ranks = nodes.join(_walk_step(edges, deg, ranks), "src", "left").select(
            "src",
            (
                F.when(F.col("src") == seed, F.lit(1.0 - d)).otherwise(F.lit(0.0))
                + F.lit(d) * F.coalesce("w", F.lit(0.0))
            ).alias("r"),
        )
    clicked = pairs.filter(F.col("user_id") * 2 == seed).select("news_id")
    out = (
        ranks.filter((F.col("src") % 2 == 1) & (F.col("r") > 0))
        .select(
            ((F.col("src") - 1) / 2).cast("long").alias("news_id"),
            F.round("r", 9).alias("score"),
            F.col("src").alias("node"),
        )
        .join(F.broadcast(clicked), "news_id", "left_anti")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("node"))
            ),
        )
        .filter(F.col("rnk") <= 10)
        .select("news_id", "score")
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------- HITS (hubs/authorities)

#: Fixed HITS iteration count (pinned for oracle parity).
HITS_ITERS = 3


def _hits_oracle(iters: int = HITS_ITERS) -> str:
    """DuckDB twin: the same unnormalized rounds unrolled as chained
    CTEs, then one per-kind L1 division — exact integer sums, so both
    engines agree bit for bit (see :func:`graph_hits_clicks`)."""
    ctes = [
        *_CLICK_GRAPH_CTES,
        "h0 AS (SELECT DISTINCT user_id AS u, 1.0 AS s FROM pairs)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""a{i} AS (
  SELECT p.news_id AS n, SUM(h.s) AS s
  FROM pairs p JOIN h{i - 1} h ON p.user_id = h.u GROUP BY p.news_id
)"""
        )
        ctes.append(
            f"""h{i} AS (
  SELECT p.user_id AS u, SUM(a.s) AS s
  FROM pairs p JOIN a{i} a ON p.news_id = a.n GROUP BY p.user_id
)"""
        )
    ctes.append(
        f"""raw AS (
  SELECT 'hub' AS kind, u AS id, s FROM h{iters}
  UNION ALL
  SELECT 'auth' AS kind, n AS id, s FROM a{iters}
)"""
    )
    return with_ctes(
        "SELECT kind, id, s / SUM(s) OVER (PARTITION BY kind) AS score FROM raw",
        *ctes,
    )


@register("graph_hits_clicks", _hits_oracle())
def graph_hits_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**HITS** over the user→news click bipartite graph — users are
    hubs (they point at news), news are authorities. ``HITS_ITERS``
    fixed rounds of the mutual recurrence ``auth(n) = Σ_{u→n} hub(u)``,
    ``hub(u) = Σ_{u→n} auth(n)``, each side L1-normalized (the
    normalization is what PageRank's damping does for free — HITS
    diverges without it). Complements PageRank: PageRank mixes the two
    roles through the symmetrized graph, HITS keeps them separate, so
    a heavy READER (hub) and a heavily-READ article (authority) rank
    on different axes.

    Normalize once, at the end. Each per-half-step L1 normalization
    divides by a positive scalar, so they cancel: the rounds carry the
    unnormalized sums from ``h0 = 1.0``, which are integer path counts
    held in doubles, and the result is divided by its per-kind total.
    Every intermediate stays an integer below 2^53 — the largest, the
    hub total, is 83,103 at sf0.001, 41,689,547 at sf0.01 and
    245,935,567,759 (about 2^38) at sf0.1 — so every sum is exact in
    any order and the one divide is a single correctly rounded IEEE
    operation: Spark and the DuckDB twin agree bit for bit.

    Scale: each half-step is one pairs⋈scores hash join + partition-
    keyed aggregate (same shuffle shape as a PageRank round). Each
    round references the previous one once, so the K-round lineage
    stays lazy and linear (operators/bsp.py); the pairs persist across
    rounds and are released by the query scope after
    checkpoint_result. The per-kind totals are a 2-row aggregate over
    the checkpointed result, broadcast back."""
    pairs = bsp.persist(_click_pairs(spark, sf_dir))
    if pairs.count() == 0:  # materializes pairs before the loop
        return spark.createDataFrame([], "kind string, id long, score double")

    hub = pairs.select(F.col("user_id").alias("u")).distinct().select(
        "u", F.lit(1.0).alias("s")
    )
    for _ in range(HITS_ITERS):
        auth = (
            pairs.join(hub, pairs.user_id == hub.u)
            .groupBy(F.col("news_id").alias("n"))
            .agg(F.sum("s").alias("s"))
        )
        hub = (
            pairs.join(auth, pairs.news_id == auth.n)
            .groupBy(F.col("user_id").alias("u"))
            .agg(F.sum("s").alias("s"))
        )
    # The last authority table is read twice, by the last hub half-step
    # and by the result; cached, the chain runs once, not once per read.
    bsp.persist(auth)
    hubs = hub.select(F.lit("hub").alias("kind"), F.col("u").alias("id"), "s")
    auths = auth.select(F.lit("auth").alias("kind"), F.col("n").alias("id"), "s")
    raw = bsp.checkpoint_result(hubs.unionAll(auths))
    tot = raw.groupBy("kind").agg(F.sum("s").alias("tot"))
    return raw.join(F.broadcast(tot), "kind").select(
        "kind", "id", (F.col("s") / F.col("tot")).alias("score")
    )


@register("graph_bfs_recursive", _bfs_oracle())
def graph_bfs_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`graph_bfs_hops` expressed as a **native recursive CTE**
    (``WITH RECURSIVE``, Spark 4+) instead of a driver-side BSP loop —
    same seed, horizon, and output, same DuckDB oracle (the two forms
    are cross-validated by sharing it, the j3 naive/indexed pattern).

    Spark's recursion requires UNION ALL, which on a cyclic graph
    would enumerate *paths*; the ``SELECT DISTINCT`` in the recursive
    term restores per-level frontier dedup (verified supported), so
    each iteration's working set is bounded by |nodes| — the same
    asymptotics as the BSP loop. What the native form trades away is
    the loop-body control the BSP form uses at 100 TB: no per-level
    persist/localCheckpoint cadence, no early exit on an empty
    frontier (the engine iterates to the WHERE bound), and the edge
    list is re-derived per step rather than pinned in cache — so the
    BSP form stays the scale path and this one documents the engine-
    native alternative."""
    _click_pairs(spark, sf_dir).createOrReplaceTempView("bfs_pairs_v")
    return spark.sql(
        f"""WITH RECURSIVE edges AS (
  SELECT user_id * 2 AS src, news_id * 2 + 1 AS dst FROM bfs_pairs_v
  UNION ALL
  SELECT news_id * 2 + 1, user_id * 2 FROM bfs_pairs_v
),
walk(node, dist) AS (
  SELECT (SELECT MIN(news_id) * 2 + 1 FROM bfs_pairs_v) AS node, 0 AS dist
  UNION ALL
  SELECT DISTINCT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {BFS_MAX_HOPS}
)
SELECT node, CAST(MIN(dist) AS INT) AS dist
FROM walk WHERE node IS NOT NULL GROUP BY node"""
    )


# ------------------------------------------------- triangle counting

#: Minimum co-click count for an item-item edge in the projection.
TRI_MIN_COOC = 2


#: DuckDB twin of :func:`_cooc_edges`: the click graph plus the
#: id-oriented co-click projection ``e(x, y)``.
_COOC_CTES = (
    *_CLICK_GRAPH_CTES,
    f"""e AS (
  SELECT a.news_id AS x, b.news_id AS y
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.news_id < b.news_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_COOC}
)""",
)


def _cooc_edges(pairs: DataFrame) -> DataFrame:
    """The item co-click projection: id-oriented (x < y) news pairs
    co-clicked by at least ``TRI_MIN_COOC`` users. Lazy: callers that
    reuse it persist it."""
    a = pairs.select("user_id", F.col("news_id").alias("x"))
    b = pairs.select(F.col("user_id").alias("u2"), F.col("news_id").alias("y"))
    return (
        a.join(b, (F.col("user_id") == F.col("u2")) & (F.col("x") < F.col("y")))
        .groupBy("x", "y")
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= TRI_MIN_COOC)
        .select("x", "y")
    )


@register(
    "graph_triangle_stats",
    with_ctes(
        """SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST(COALESCE(w.s, 0) AS BIGINT) AS n_wedges,
       CAST(t.n AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN w.s > 0 THEN 3.0 * t.n / w.s ELSE 0.0 END, 6)
         AS clustering_coeff
FROM (SELECT SUM(d * (d - 1) / 2) AS s FROM deg) w,
     (SELECT COUNT(*) AS n
      FROM e e1 JOIN e e2 ON e2.x = e1.y JOIN e e3
        ON e3.x = e1.x AND e3.y = e2.y) t""",
        *_COOC_CTES,
        """deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT x AS v FROM e UNION ALL SELECT y FROM e) GROUP BY v
)""",
    ),
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Triangle counting + global clustering coefficient** on the
    item co-click projection (edges = item pairs co-clicked by ≥
    ``TRI_MIN_COOC`` users). Triangles are counted on ID-ORIENTED
    edges (every stored edge has x < y, each triangle counted exactly
    once as x < y < z via e₁(x,y) ⋈ e₂(y,z) ⋈ e₃(x,z)) — the standard
    distributed scheme; at scale you orient by DEGREE instead of id,
    which bounds the join fan-out by arboricity (edges stream through
    two joins, no per-node adjacency materialization either way).
    The coefficient ``3·triangles / wedges`` says how clique-ish
    co-consumption is — community structure upstream of the CF models.

    One row: nodes, edges, wedges (Σ d(d−1)/2 — exact integers),
    triangles, and the quantized coefficient."""
    e = bsp.persist(_cooc_edges(_click_pairs(spark, sf_dir)))
    n_edges = e.count()  # materializes the projection once for all uses
    deg = (
        e.select(F.col("x").alias("v"))
        .unionAll(e.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    wedge_nodes = deg.agg(
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2), F.lit(0.0)
        ).cast("long").alias("n_wedges"),
        F.count("*").cast("long").alias("n_nodes"),
    )
    e1 = e.select(F.col("x").alias("t_x"), F.col("y").alias("t_y"))
    e2 = e.select(F.col("x").alias("u_x"), F.col("y").alias("u_y"))
    e3 = e.select(F.col("x").alias("v_x"), F.col("y").alias("v_y"))
    tri = (
        e1.join(e2, F.col("u_x") == F.col("t_y"))
        .join(
            e3,
            (F.col("v_x") == F.col("t_x")) & (F.col("v_y") == F.col("u_y")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    out = (
        wedge_nodes.crossJoin(tri)
        .select(
            "n_nodes",
            F.lit(n_edges).cast("long").alias("n_edges"),
            "n_wedges",
            "n_triangles",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------ k-core (bounded peel)

#: Core threshold and FIXED peel rounds (pinned for oracle parity —
#: the convergence dial, like PAGERANK_ITERS/BFS_MAX_HOPS).
KCORE_K = 3
KCORE_PEEL_ROUNDS = 4


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_PEEL_ROUNDS) -> str:
    ctes = list(_CLICK_GRAPH_CTES)
    prev = "edges"
    for r in range(1, rounds + 1):
        ctes.append(
            f"s{r} AS (SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {k})"
        )
        ctes.append(
            f"""e{r} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN s{r} a ON e.src = a.src
  JOIN s{r} b ON e.dst = b.src
)"""
        )
        prev = f"e{r}"
    return with_ctes(
        f"SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg "
        f"FROM {prev} GROUP BY src",
        *ctes,
    )


@register("graph_kcore", _kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**k-core decomposition** (bounded peeling) of the click graph:
    repeatedly delete nodes of degree < ``KCORE_K`` together with
    their edges — the surviving subgraph is the dense "core" where
    every member keeps ≥ k neighbors among other members. The standard
    prefilter for community mining and for spam/bot rings (dense
    click cores) that raw degree thresholds miss: a node with 100
    edges to degree-1 throwaway accounts dies in round 2.

    The peel count is FIXED at ``KCORE_PEEL_ROUNDS`` (the convergence
    dial, pinned exactly like PAGERANK_ITERS so both engines run the
    identical computation); output is every surviving node with its
    degree inside the surviving subgraph. Scale: each round is one
    degree aggregation + two semi-joins, all shuffling on node id;
    the edge set only shrinks, each round's survivor relation is
    O(nodes). A round references the previous edge set three times,
    so each round truncates its lineage with an eager
    ``localCheckpoint`` (the loop rule in operators/bsp.py): the plan
    stays one round deep and no round's cache nests inside the
    next."""
    edges = bsp.persist(_click_edges(_click_pairs(spark, sf_dir)))
    for _ in range(KCORE_PEEL_ROUNDS):
        surv = (
            edges.groupBy("src")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= KCORE_K)
            .select("src")
        )
        edges = (
            edges.join(surv, "src", "left_semi")
            .join(surv.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    out = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("core_deg")
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------ link prediction (Adamic-Adar)

#: Result size for predicted links (deterministic total-order cut).
AA_TOP_N = 50


def _adamic_adar_oracle() -> str:
    """DuckDB twin: same projection → adjacency → wedge join → anti-join
    against existing edges, with the identical quantized sort key."""
    return with_ctes(
        f"""SELECT x, y, common_neighbors, aa_score FROM (
  SELECT c.x, c.y,
         CAST(c.cn AS BIGINT) AS common_neighbors,
         ROUND(c.aa, 6) AS aa_score
  FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.x = c.x AND e.y = c.y)
  ORDER BY ROUND(c.aa, 6) DESC, c.x, c.y
  LIMIT {AA_TOP_N}
)""",
        *_COOC_CTES,
        """adj AS (
  SELECT x AS v, y AS w FROM e UNION ALL SELECT y, x FROM e
)""",
        "deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY v)",
        """cand AS (
  SELECT a1.w AS x, a2.w AS y,
         COUNT(*) AS cn,
         SUM(1.0 / LN(deg.d)) AS aa
  FROM adj a1
  JOIN adj a2 ON a2.v = a1.v AND a1.w < a2.w
  JOIN deg ON deg.v = a1.v
  GROUP BY 1, 2
)""",
    )


@register("graph_link_prediction_aa", _adamic_adar_oracle())
def graph_link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Adamic-Adar link prediction** on the item co-click projection
    (same edge set as ``graph_triangle_stats``): for every NON-edge
    pair (x, y) reachable through ≥1 common neighbor z, score
    ``Σ_z 1/ln(deg(z))`` — rare shared neighbors count more than hub
    neighbors. The classic neighborhood-overlap predictor
    (Adamic & Adar 2003); top-scored pairs are the co-click edges the
    graph is "missing", directly usable as item-item rec candidates.

    Plan: adjacency (both directions) ⋈ itself on the shared neighbor
    (one shuffle on z) → pair aggregation (one shuffle on (x, y)) →
    anti-join the existing edge set → distributed top-N
    (TakeOrderedAndProject on the quantized total-order key
    (aa DESC, x, y) — no single-partition window). Common neighbors z
    have deg(z) ≥ 2 by construction, so ln(deg) > 0; contributions are
    positive, so cross-engine double sums agree far inside the 6-dp
    quantization.

    Scale (100 TB): wedge fan-out is Σ_z d(z)² — the same cost law as
    triangle counting; at the full graph you cap per-neighbor adjacency
    lists (keep the top-d strongest co-click edges per node) before the
    self-join, which bounds fan-out by d_max² per node while keeping
    the high-signal pairs. The pair aggregation is map-side combinable;
    nothing materializes per-node state."""
    e = bsp.persist(_cooc_edges(_click_pairs(spark, sf_dir)))
    e.count()
    adj = e.select(F.col("x").alias("v"), F.col("y").alias("w")).unionAll(
        e.select(F.col("y").alias("v"), F.col("x").alias("w"))
    )
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    a1 = adj.select(F.col("v"), F.col("w").alias("cx"))
    a2 = adj.select(F.col("v").alias("v2"), F.col("w").alias("cy"))
    cand = (
        a1.join(a2, (F.col("v") == F.col("v2")) & (F.col("cx") < F.col("cy")))
        .join(deg, "v")
        .groupBy(F.col("cx").alias("x"), F.col("cy").alias("y"))
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("aa_score"),
        )
    )
    out = (
        cand.join(e, ["x", "y"], "left_anti")
        .orderBy(F.col("aa_score").desc(), "x", "y")
        .limit(AA_TOP_N)
    )
    return bsp.checkpoint_result(out)


# --------------------------------------- label-propagation communities

#: Fixed synchronous LPA rounds (pinned for oracle parity).
LPA_ITERS = 3


def _lpa_ctes(iters: int = LPA_ITERS) -> tuple[list[str], str]:
    """The unrolled LPA CTE chain and the name of its final labels CTE
    — shared by the LPA oracle and the modularity report built on it."""
    ctes = [
        *_CLICK_GRAPH_CTES,
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""l{i} AS (
  SELECT dst AS node, label FROM (
    SELECT e.dst, l.label,
           ROW_NUMBER() OVER (
             PARTITION BY e.dst
             ORDER BY COUNT(*) DESC, l.label ASC
           ) AS rn
    FROM edges e JOIN {prev} l ON e.src = l.node
    GROUP BY e.dst, l.label
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    return ctes, prev


def _lpa_oracle(iters: int = LPA_ITERS) -> str:
    """DuckDB twin: the same fixed-round synchronous LPA unrolled as
    chained CTEs; the (count DESC, label ASC) tie-break is a total
    order over exact integers, so both engines pick identical labels
    every round."""
    ctes, prev = _lpa_ctes(iters)
    return with_ctes(
        f"SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label "
        f"FROM {prev}",
        *ctes,
    )


@register("graph_lpa_communities", _lpa_oracle())
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Label-propagation communities** (Raghavan 2007) over the
    symmetric user↔news click graph (same node space as
    ``graph_pagerank_clicks``): every node starts as its own label;
    each synchronous round it adopts the most frequent label among its
    neighbors, ties to the smallest label. ``LPA_ITERS`` fixed rounds
    (no convergence test) keeps the loop bit-reproducible, so the whole
    computation hash-compares against the unrolled-CTE oracle. The
    resulting label groups are behavioral communities — the
    click-graph analogue of topic clusters, and the usual cheap
    pre-partitioner before per-community modeling.

    Plan: each round is one edges⋈labels equi-join shuffling on node
    id, a (dst, label) count, and a per-dst argmax folded into a
    single hash aggregate via max(struct(cnt, −label)) — no window
    sort, two exchanges per round, the standard BSP layout shared with
    PageRank/k-core. Labels are referenced once per round
    (single-reference loop), so lineage stays linear in the K=3
    rounds; edges persist across rounds and release on exit."""
    edges = bsp.persist(_click_edges(_click_pairs(spark, sf_dir)))
    if edges.limit(1).count() == 0:
        return spark.createDataFrame([], "node long, label long")

    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ITERS):
        counts = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            counts.groupBy("dst")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("m")
            )
            .select(
                F.col("dst").alias("node"),
                (-F.col("m.neg")).alias("label"),
            )
        )
    return bsp.checkpoint_result(
        labels.select(
            F.col("node").cast("long").alias("node"),
            F.col("label").cast("long").alias("label"),
        )
    )


# ------------------------------------------------- modularity report

def _modularity_oracle() -> str:
    """DuckDB twin: per-community intra-edge and degree masses over the
    unrolled-LPA labels. All masses are exact integers (directed edge
    counts), so the Q contributions are exact rationals rounded at
    6 dp on both engines."""
    ctes, prev = _lpa_ctes()
    ctes.append(f"labels AS (SELECT node, label FROM {prev})")
    ctes.append(
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS dir_edges FROM edges)"
    )
    # Hash-robustness (r8 driver-red fix): q_c is an exact rational
    # with denominator dir_edges², which CAN land exactly on 6-dp
    # half-boundaries where ROUND rules (HALF_UP vs double-rounding)
    # disagree across engines. Both engines now walk the IDENTICAL
    # IEEE-double tree — explicit CASTs, square via multiply (POWER's
    # libm is not pinned), FLOOR(x·1e6 + 0.5) (rule-free) — so the
    # published value is bit-identical by construction.
    return with_ctes(
        """SELECT s.label,
       s.n_nodes,
       s.deg_sum,
       CAST(COALESCE(i.intra_dir, 0) / 2 AS BIGINT) AS intra_edges,
       CAST(CAST(FLOOR(
           (CAST(COALESCE(i.intra_dir, 0) AS DOUBLE)
              / CAST(m.dir_edges AS DOUBLE)
            - (CAST(s.deg_sum AS DOUBLE) / CAST(m.dir_edges AS DOUBLE))
              * (CAST(s.deg_sum AS DOUBLE) / CAST(m.dir_edges AS DOUBLE)))
           * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6
         AS q_contribution
FROM (
  SELECT l.label,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.dd) AS BIGINT) AS deg_sum
  FROM labels l
  JOIN (SELECT src, COUNT(*) AS dd FROM edges GROUP BY src) d
    ON d.src = l.node
  GROUP BY l.label
) s
LEFT JOIN (
  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS intra_dir
  FROM edges e
  JOIN labels la ON la.node = e.src
  JOIN labels lb ON lb.node = e.dst
  WHERE la.label = lb.label
  GROUP BY la.label
) i ON i.label = s.label
CROSS JOIN m""",
        *ctes,
    )


@register("graph_modularity_report", _modularity_oracle())
def graph_modularity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Modularity report** (Newman 2004) for the LPA partition: per
    community, node count, degree mass, intra-community edge count,
    and the modularity contribution Q_c = e_c/2m − (d_c/2m)² over the
    same symmetric click graph. ΣQ_c is the partition's modularity —
    the standard "are these communities real structure or chance?"
    score (Q near 0 = no better than random given the degrees), and
    the quality gate you'd put behind ``graph_lpa_communities`` before
    trusting its labels for per-community modeling. The LPA labels are
    recomputed through the registered operator, so report and
    partition cannot drift.

    Plan: two labels⋈edges equi-joins (intra-edge mass) + one
    labels⋈degrees join, all shuffling on node id, collapsing to
    O(|communities|) rows; the directed-edge total is a 1-row scalar
    broadcast. All masses are exact integers — cross-engine parity is
    pure integer arithmetic until the final 6-dp division."""
    # Labels first: LPA persists (and releases) its own copy of the
    # edge relation — building ours afterwards avoids sharing a cache
    # entry that LPA's exit would unpersist out from under us.
    labels = graph_lpa_communities(spark, sf_dir)  # checkpointed, small
    edges = bsp.persist(_click_edges(_click_pairs(spark, sf_dir)))
    if edges.limit(1).count() == 0:
        return spark.createDataFrame(
            [],
            "label long, n_nodes long, deg_sum long, intra_edges long,"
            " q_contribution double",
        )
    deg = edges.groupBy("src").agg(F.count("*").alias("dd"))
    sizes = (
        labels.join(deg, labels.node == deg.src)
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("dd").cast("long").alias("deg_sum"),
        )
    )
    la = labels.select(F.col("node").alias("src"), F.col("label").alias("sl"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("dl"))
    intra = (
        edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("sl") == F.col("dl"))
        .groupBy(F.col("sl").alias("label"))
        .agg(F.count("*").cast("long").alias("intra_dir"))
    )
    m = edges.agg(F.count("*").cast("long").alias("dir_edges"))
    intra_dir = F.coalesce(F.col("intra_dir"), F.lit(0)).cast("long")
    # Mirror the oracle's IEEE tree exactly: explicit double casts,
    # square via multiply, FLOOR(x·1e6 + 0.5) — see _modularity_oracle.
    m_d = F.col("dir_edges").cast("double")
    deg_frac = F.col("deg_sum").cast("double") / m_d
    q_raw = intra_dir.cast("double") / m_d - deg_frac * deg_frac
    out = (
        sizes.join(intra, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_nodes",
            "deg_sum",
            (intra_dir / 2).cast("long").alias("intra_edges"),
            (
                F.floor(q_raw * 1e6 + 0.5).cast("long").cast("double") / 1e6
            ).alias("q_contribution"),
        )
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------ degree distribution

def _degree_hist_oracle() -> str:
    return with_ctes(
        """SELECT side, bucket, lo, hi, n_nodes,
       CAST(CAST(FLOOR((CAST(n_nodes AS DOUBLE) / SUM(n_nodes) OVER (PARTITION BY side)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS share
FROM (
  SELECT side,
         CAST(LENGTH(bin(d)) - 1 AS INTEGER) AS bucket,
         CAST(POWER(2, LENGTH(bin(d)) - 1) AS BIGINT) AS lo,
         CAST(POWER(2, LENGTH(bin(d))) - 1 AS BIGINT) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY 1, 2, 3, 4
)""",
        *_CLICK_GRAPH_CTES,
        """deg AS (
  SELECT src,
         CASE WHEN src % 2 = 0 THEN 'user' ELSE 'news' END AS side,
         CAST(COUNT(*) AS BIGINT) AS d
  FROM edges GROUP BY 1, 2
)""",
    )


@register("graph_degree_histogram", _degree_hist_oracle())
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Log₂-binned degree distribution** per side of the click
    bipartite graph — the profile read BEFORE choosing graph
    algorithms: a heavy tail on the news side says salt the item joins
    (``ev_key_skew_report``'s graph twin), the user-side mass says how
    BSP rounds will balance, and bucket counts size every
    neighborhood-join's fan-out. Bucketing is by BINARY LENGTH
    (``length(bin(d)) − 1``), not ``floor(log2(d))`` — float log2 at
    exact powers of two is a last-ulp landmine neither engine needs to
    step on; bit length is exact integer arithmetic in both.

    Plan: one distinct + one degree count (the PageRank preamble), a
    GROUP BY over O(|nodes|) degree rows, a side-partitioned window
    over O(buckets) rows for shares. Nothing data-sized after the
    degree aggregate."""
    edges = _click_edges(_click_pairs(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    blen = F.length(F.bin(F.col("d")))
    hist = (
        deg.select(
            F.when(F.col("src") % 2 == 0, F.lit("user"))
            .otherwise(F.lit("news"))
            .alias("side"),
            (blen - 1).cast("int").alias("bucket"),
            F.pow(F.lit(2.0), (blen - 1).cast("double")).cast("long").alias("lo"),
            (F.pow(F.lit(2.0), blen.cast("double")) - 1).cast("long").alias("hi"),
        )
        .groupBy("side", "bucket", "lo", "hi")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    w = Window.partitionBy("side")
    return hist.select(
        "side",
        "bucket",
        "lo",
        "hi",
        "n_nodes",
        ppm_value(
            F.col("n_nodes").cast("double") / F.sum("n_nodes").over(w)
        ).alias("share"),
    )


# --------------------------------------------- degree assortativity

@register(
    "graph_assortativity",
    with_ctes(
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       ROUND(
         (AVG(du * dn) - AVG(du) * AVG(dn))
         / (SQRT(AVG(du * du) - AVG(du) * AVG(du))
            * SQRT(AVG(dn * dn) - AVG(dn) * AVG(dn))), 6)
         AS assortativity,
       ROUND(AVG(du), 6) AS mean_user_degree,
       ROUND(AVG(dn), 6) AS mean_news_degree
FROM (
  SELECT CAST(cu.d AS DOUBLE) AS du, CAST(cn.d AS DOUBLE) AS dn
  FROM pairs p
  JOIN (SELECT user_id, COUNT(*) AS d FROM pairs GROUP BY user_id) cu
    ON p.user_id = cu.user_id
  JOIN (SELECT news_id, COUNT(*) AS d FROM pairs GROUP BY news_id) cn
    ON p.news_id = cn.news_id
)""",
        *_CLICK_GRAPH_CTES,
    ),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Degree assortativity** of the user↔news click graph: the
    Pearson correlation between user degree and news degree across
    distinct click edges (Newman 2002, bipartite cross-side form).
    Negative = heavy users spread over niche items / hubs attract
    light users (typical of recommendation graphs and a predictor of
    how PageRank mass concentrates); positive = hub-hub locking, the
    regime where neighborhood joins (CF, Adamic-Adar) need their hot
    keys salted first.

    Plan: two degree aggregates (user-keyed, news-keyed), each joined
    back to the edge list on its own key, then ONE moment aggregate —
    degrees are exact BIGINT counts so the only doubles are the final
    moment ratios. No pairwise or per-node iteration anywhere.

    Scale: the two degree joins shuffle the edge list once per side
    (the news side reuses ``NEWS_MOD``-bounded keys and could
    broadcast); the moment aggregate is map-side combinable. Same
    single-pass-over-edges class as the modularity report."""
    pairs = _click_pairs(spark, sf_dir)
    du = pairs.groupBy("user_id").agg(F.count("*").alias("du"))
    dn = pairs.groupBy("news_id").agg(F.count("*").alias("dn"))
    e = (
        pairs.join(du, "user_id")
        .join(F.broadcast(dn), "news_id")
        .select(
            F.col("du").cast("double").alias("x"),
            F.col("dn").cast("double").alias("y"),
        )
    )
    return e.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.round(
            (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y"))
            / (
                F.sqrt(F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"))
                * F.sqrt(
                    F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y")
                )
            ),
            6,
        ).alias("assortativity"),
        F.round(F.avg("x"), 6).alias("mean_user_degree"),
        F.round(F.avg("y"), 6).alias("mean_news_degree"),
    )
