"""Graph analytics over the co-purchase graph: bounded-iteration PageRank.

The reference is a per-record error-handling library with no graph story,
but a 100 TB training-data platform needs at least one iterative graph
primitive (link-graph quality signals a la Common Crawl's harmonic
centrality, co-occurrence ranking for curriculum mixing).  The pattern
demonstrated here is the scale-correct Spark shape for ANY fixed-point
graph algorithm:

- the graph is an EDGE DataFrame, never an adjacency matrix;
- each iteration is one join (rank → edges) + one aggregate (sum of
  contributions per destination) — both shuffle on the node key, so a
  cluster can co-partition `edges` and `ranks` once and every iteration
  reuses the same exchange layout (AQE keeps the plan per-stage);
- the iteration count is BOUNDED and unrolled (3 rounds, like the
  label-propagation CC in `datapipe/dedup.py`), keeping the plan static —
  no driver-side convergence loop, deterministic cost at 100 TB;
- all arithmetic is INTEGER (ranks carried as parts-per-1e12 of the total
  mass, contributions `rank DIV degree`): floating-point PageRank is
  summation-order dependent and cannot be hash-compared across engines,
  integer floor-division PageRank is exactly reproducible anywhere.
  (Spark `DIV` truncates toward zero and DuckDB `//` floors, but every
  quantity here is non-negative, where the two agree.)

Mass is NOT conserved exactly (each edge floors its contribution) — the
loss is < deg ulps per node per round, irrelevant for ranking, and the
determinism is what makes the result gate-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..regime import bounded_collect, forced_regime, local_frame
from ..sources.files import load_table as _t

# total rank mass, parts-per-1e12 — big enough that `rank DIV deg` keeps
# ~7 significant digits at deg ~100 over 20k nodes (rank_0 ~ 5e7)
PR_SCALE = 1_000_000_000_000
PR_ITERS = 3
PR_TOPK = 20
# regime crossover for pagerank_scaled: broadcast the per-iteration rank
# frame only while |V| fits comfortably inside the driver-result /
# broadcast budget.  The crossover is DERIVED from the session's
# spark.driver.maxResultSize at a conservative 512 bytes/node — the
# N=300 probe measured ~180 B/node effective on the rank-frame broadcast
# collect (6M nodes blew the 1 GiB default; 2M, the N=100 stress record,
# was green), so 512 keeps ~2x slack and lands on exactly 2M nodes at
# the 1g default (ADVICE r6: a byte budget, not a hardcoded node count).
# PR_BROADCAST_MAX_NODES is the fallback when maxResultSize is unlimited.
PR_BROADCAST_MAX_NODES = 2_000_000
PR_BROADCAST_BYTES_PER_NODE = 512


def _broadcast_max_nodes(spark: SparkSession) -> int:
    """Broadcast-regime node ceiling from ``spark.driver.maxResultSize``.

    Uses the shared bytesConf parser (``conf.driver_max_result_bytes``,
    MiB default unit per ADVICE r7); when the conf is unset/unlimited the
    parser's 1 GiB default reproduces the last-known-green static cap
    (``PR_BROADCAST_MAX_NODES`` = 1 GiB / 512 B-per-node).
    """
    from ..conf import driver_max_result_bytes

    return driver_max_result_bytes(spark) // PR_BROADCAST_BYTES_PER_NODE


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected part co-purchase pairs (same order), emitted in
    BOTH directions: (src, dst) with src <> dst.  One self-join on the
    order key — at 100 TB this is the standard basket-expansion shuffle,
    bounded by (items per order)² per order, not corpus².
    """
    # Codegen self-join on the order key, NOT an array-HOF pair expansion:
    # the interpreted transform/filter lambdas measured 35s cold at the
    # 24M-edge 10x stress where this whole-stage-codegen join takes ~8s
    # (the engineering-notes rule — interpreted HOFs off the hot path).
    # The undirected pair set is checkpointed HERE, once (12M narrow rows,
    # ~2s): both direction projections and every PageRank iteration then
    # re-read the checkpoint (0.4s/pass) instead of re-running the join —
    # the union below would otherwise execute the distinct TWICE.
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    und = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return und.unionByName(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def pagerank_scaled(
    edges: DataFrame,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Integer PageRank over a directed edge list; returns
    (node, deg, rank_scaled) with rank in parts-per-``scale`` of total mass.

    r_{t+1}(v) = teleport + 85% * sum_{u->v} (r_t(u) DIV deg(u)) DIV'd by
    100, teleport = 15% of the uniform share.  Damping 0.85 per the
    original PageRank paper; every node here has out-degree >= 1 by
    construction (edge endpoints), so there is no dangling-mass term.

    ``broadcast_ranks=True`` is the |V| << |E| regime (product catalogs,
    domain graphs: here 20k nodes vs 2.4M edges): the per-iteration rank
    and degree frames are broadcast so the ONLY exchange per round is the
    map-combined contribution sum — the checkpointed edge frame is never
    reshuffled.  ``False`` is the web-scale regime where |V| itself is
    huge: rank/degree joins run as ordinary key-shuffle joins, so nothing
    node-count-shaped is ever collected to the driver or broadcast (on a
    real cluster, bucket the edge table on the node key to make those
    shuffles one-sided).  The default ``None`` AUTO-SELECTS: ``deg`` is
    one row per node and already checkpoint-materialized, so its count is
    a cheap bounded scalar, and the broadcast regime is used only while
    |V| fits the session's ``spark.driver.maxResultSize`` byte budget
    (:func:`_broadcast_max_nodes`) — the same query survives any graph
    size without the caller knowing the crossover.  (The auto-probe runs
    one count() at DataFrame-construction time; pass an explicit bool in
    plan-only contexts that must not launch jobs.)
    """
    # callers hand in edges whose expensive construction is already cut by
    # a checkpoint (see copurchase_edges); re-reading that per pass is
    # cheaper than materializing the 2x-size directed list again, so no
    # edge-level cache here — only the SMALL frames (deg: one row per
    # node; per-iteration ranks) get checkpointed
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    deg = deg.localCheckpoint(eager=True)  # one row per node — tiny
    if broadcast_ranks is None:
        broadcast_ranks = deg.count() <= _broadcast_max_nodes(edges.sparkSession)
    hint = F.broadcast if broadcast_ranks else (lambda df: df)
    ed = edges.join(hint(deg), "src")

    # deg already holds one row per node — no second distinct over edges
    n_df = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # uniform integer share; the scalar N rides along as a broadcast
    # 1-row frame, never a driver collect
    ranks = deg.select(F.col("src").alias("node")).crossJoin(F.broadcast(n_df)).select(
        "node", F.expr(f"{scale} DIV n_nodes").alias("rank")
    )
    for _ in range(iters):
        contrib = (
            ed.join(hint(ranks), ed.src == ranks.node)
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("msum"))
        )
        ranks = contrib.crossJoin(F.broadcast(n_df)).select(
            F.col("dst").alias("node"),
            (
                F.expr(f"(15 * ({scale} DIV n_nodes)) DIV 100")
                + F.expr("(85 * msum) DIV 100")
            ).alias("rank"),
        )
        # checkpoint each iteration's ranks (one SMALL row per node):
        # without the lineage cut, iteration t's broadcast subtree
        # re-executes iterations 1..t-1 — the chain goes quadratic in
        # join count (measured 23s/87s at 1x/10x vs linear with it)
        ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.join(hint(deg).select(F.col("src").alias("node"), "deg"), "node")
        .select("node", "deg", F.col("rank").alias("rank_scaled"))
    )


# ONE memoized weighted edge artifact serves the whole graph family
# (r5: previously PageRank/degree-stats built a raw edge set and the
# triangle family built a support-filtered one — two separate order-pair
# expansions over lineitem per session).  The natural 100 TB table
# maintenance artifact is the WEIGHTED canonical edge list
# (src < dst, n_orders); the raw edge set is its projection and the
# support-2 set is a filter, so one expansion + one checkpoint feed
# PageRank, degree stats, triangles, clustering, Jaccard, BFS, k-core.
_WEIGHTED_CACHE: dict = {}


def weighted_copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Canonical weighted co-purchase edges: (src, dst, n_orders) with
    src < dst, n_orders = number of DISTINCT orders containing both
    parts.  Same codegen self-join as :func:`copurchase_edges` (see its
    perf note) plus one map-combined aggregate."""
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("ok", "src", "dst")
        .distinct()  # a part can repeat within one order's lineitems
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _weighted_edges_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..memo import stamped_memo

    return stamped_memo(
        _WEIGHTED_CACHE,
        # checkpointed DataFrames are session-bound: key on applicationId
        (spark.sparkContext.applicationId, sf_dir),
        os.path.join(sf_dir, "lineitem.parquet"),
        lambda: weighted_copurchase_edges(
            _t(spark, sf_dir, "lineitem")
        ).localCheckpoint(eager=True),
    )


def _edges_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (both-direction) raw co-purchase edges, derived from the
    weighted artifact by projection + union — no second pair expansion."""
    und = _weighted_edges_for(spark, sf_dir).select("src", "dst")
    return und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: top-20 parts by 3-round integer PageRank over the co-purchase
    graph, deterministic tie-break (rank desc, part asc)."""
    pr = pagerank_scaled(_edges_for(spark, sf_dir))
    return (
        pr.select(F.col("node").alias("part"), F.col("deg").alias("n_neighbors"), "rank_scaled")
        .orderBy(F.desc("rank_scaled"), F.asc("part"))
        .limit(PR_TOPK)
    )


def _sql_pagerank() -> str:
    scale = PR_SCALE
    tele = f"(15 * ({scale} // n_nodes)) // 100"
    prev = "r0"
    its = []
    for i in range(PR_ITERS):
        its.append(
            f"r{i + 1} AS (\n"
            f"  SELECT e.dst AS node, {tele} + (85 * sum(r.rank // e.deg)) // 100 AS rank\n"
            f"  FROM ed e JOIN {prev} r ON e.src = r.node CROSS JOIN n\n"
            f"  GROUP BY e.dst, n_nodes\n)"
        )
        prev = f"r{i + 1}"
    return f"""
WITH und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (
  SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
n AS (SELECT count(*) AS n_nodes FROM deg),
r0 AS (SELECT src AS node, {scale} // n_nodes AS rank FROM deg CROSS JOIN n),
{",".join(its)}
SELECT r.node AS part, d.deg AS n_neighbors,
       CAST(r.rank AS BIGINT) AS rank_scaled
FROM {prev} r JOIN deg d ON d.src = r.node
ORDER BY rank_scaled DESC, part ASC
LIMIT {PR_TOPK}
"""


QUERIES = {
    "graph_pagerank": (q_graph_pagerank, _sql_pagerank()),
}


# ---------------------------------------------------------------------------
# Degree-distribution QA: the pre-flight check before any graph algorithm
# ---------------------------------------------------------------------------


def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude degree histogram of the co-purchase graph — the
    QA artifact read BEFORE running PageRank/CC at scale: a heavy tail
    here is what forces skew salting or high-degree-vertex mirroring.
    Buckets are decimal-digit counts (len(str(deg))) — pure integer
    string length, engine-exact, where floor(log2(deg)) would ride on
    float rounding at bucket boundaries.  One aggregate over the degree
    frame (one row per node), reading the shared edge artifact."""
    deg = (
        _edges_for(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.groupBy(F.length(F.col("deg").cast("string")).alias("deg_digits"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("total_deg"),
        )
    )


_SQL_DEGREE_STATS = """
WITH und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
SELECT CAST(length(CAST(deg AS VARCHAR)) AS INT) AS deg_digits,
       count(*) AS n_nodes,
       min(deg) AS min_deg,
       max(deg) AS max_deg,
       CAST(sum(deg) AS BIGINT) AS total_deg
FROM deg
GROUP BY 1
"""

QUERIES["graph_degree_stats"] = (q_graph_degree_stats, _SQL_DEGREE_STATS)


# ---------------------------------------------------------------------------
# Triangle counting over the significant co-purchase graph
# ---------------------------------------------------------------------------

TRI_MIN_ORDERS = 2  # an edge is significant iff the pair co-occurs in >= 2 orders
TRI_TOPK = 20


# the support-2 edge CTE shared verbatim by every graph oracle — ONE
# definition so a change to the support threshold or canonicalization
# rule cannot desynchronize the four consumers (round-4 review)
_SIG_SQL = f"""sig AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, count(*) AS n_orders FROM (
      SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ) GROUP BY src, dst
  ) WHERE n_orders >= {TRI_MIN_ORDERS}
)"""


def significant_edges(lineitem: DataFrame, min_orders: int = TRI_MIN_ORDERS) -> DataFrame:
    """Canonical (src < dst) part pairs co-purchased in at least
    ``min_orders`` DISTINCT orders.  Support-thresholding the raw
    co-purchase graph is what makes triangle counting tractable at scale:
    weight-1 edges are noise for community structure AND the source of
    the wedge blow-up (the raw graph at sf0.1 has ~1.2M undirected edges;
    the support-2 graph is orders of magnitude sparser)."""
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("ok", "src", "dst")
        .distinct()  # a part can repeat within one order's lineitems
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
        .select("src", "dst")
    )


# The support-2 edge set memoized per (session, sf_dir, lineitem stamp) —
# same derived-artifact pattern as the raw co-purchase edges above: one
# pair-expansion + support filter serves triangles, clustering
# coefficient, neighbor-Jaccard, and BFS (measured ~3s of redundant
# extraction per consumer in the bench sweep).
_SIG_EDGES_CACHE: dict = {}


def _sig_edges_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..memo import stamped_memo

    return stamped_memo(
        _SIG_EDGES_CACHE,
        (spark.sparkContext.applicationId, sf_dir),
        os.path.join(sf_dir, "lineitem.parquet"),
        # a filter over the checkpointed weighted artifact — no separate
        # pair expansion and no second checkpoint needed
        lambda: _weighted_edges_for(spark, sf_dir)
        .filter(F.col("n_orders") >= TRI_MIN_ORDERS)
        .select("src", "dst"),
    )


# Per-node triangle counts memoized one level ABOVE the edge memo
# (VERDICT r4 #3): the wedge join is the expensive half of the graph
# family and `graph_triangles` + `graph_clustering_coeff` both consume
# the identical (node, n_triangles) frame — compute it once per
# (session, sf_dir, lineitem stamp), exactly the published
# triangle-count artifact a 100 TB deployment would maintain.
_TRI_CACHE: dict = {}


def _tri_counts_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..memo import stamped_memo

    return stamped_memo(
        _TRI_CACHE,
        (spark.sparkContext.applicationId, sf_dir),
        os.path.join(sf_dir, "lineitem.parquet"),
        lambda: triangle_counts(_sig_edges_for(spark, sf_dir)).localCheckpoint(
            eager=True
        ),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts: (node, n_triangles).

    ``edges`` must be canonical (src < dst, no duplicates); then the
    id-ordered wedge join counts each triangle a<b<c exactly once:
    (a,b) ⋈ (b,c) gives the wedge, the second join checks (a,c).  Two
    shuffle joins on the edge key — no adjacency collection, nothing on
    the driver.  At web scale the id ordering is replaced by DEGREE
    ordering (orient u→v iff (deg u, u) < (deg v, v)), which bounds
    per-node out-degree by O(sqrt(E)) and hence the wedge volume by
    O(E^1.5) regardless of skew — same plan shape, one extra degree
    join; id ordering keeps the gate oracle-mirrorable in three lines.
    """
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: top-20 parts by triangle count in the support-2 co-purchase
    graph — the local-community-density signal (a node in many triangles
    sits inside a clique-ish neighborhood, not a hub-and-spoke one)."""
    return (
        _tri_counts_for(spark, sf_dir)
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(TRI_TOPK)
        .select(F.col("node").alias("part"), "n_triangles")
    )


_SQL_TRIANGLES = f"""
WITH {_SIG_SQL},
tris AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM sig e1
  JOIN sig e2 ON e1.dst = e2.src
  JOIN sig e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
nodes AS (
  SELECT a AS node FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT node AS part, count(*) AS n_triangles
FROM nodes GROUP BY node
ORDER BY n_triangles DESC, part ASC
LIMIT {TRI_TOPK}
"""

QUERIES["graph_triangles"] = (q_graph_triangles, _SQL_TRIANGLES)


# ---------------------------------------------------------------------------
# Local clustering coefficient (reuses the triangle machinery)
# ---------------------------------------------------------------------------


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by local clustering coefficient over the support-2
    co-purchase graph: cc = 2*tri / (deg*(deg-1)) in exact integer ppm,
    deg >= 2 only.  cc ~ 1e6 means the part's co-purchase partners all
    co-purchase each other (a product family / bundle); cc ~ 0 at high
    degree is a cross-category staple.  One extra join over the triangle
    and degree frames — the expensive wedge join is shared with
    `graph_triangles` through the session-scoped triangle-count memo
    (`_tri_counts_for`), the published-artifact pattern at 100 TB."""
    edges = _sig_edges_for(spark, sf_dir)
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    tri = _tri_counts_for(spark, sf_dir)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            F.col("node").alias("part"),
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "(2 * coalesce(n_triangles, 0) * 1000000) DIV (deg * (deg - 1))"
            ).alias("cc_ppm"),
        )
        .orderBy(F.desc("cc_ppm"), F.desc("deg"), F.asc("part"))
        .limit(TRI_TOPK)
    )


_SQL_CLUSTERING = f"""
WITH {_SIG_SQL},
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT src AS node FROM sig UNION ALL SELECT dst FROM sig
  ) GROUP BY node
),
tris AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM sig e1 JOIN sig e2 ON e1.dst = e2.src
  JOIN sig e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
tri AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tris UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY node
)
SELECT d.node AS part, d.deg,
       coalesce(t.n_triangles, 0) AS n_triangles,
       (2 * coalesce(t.n_triangles, 0) * 1000000) // (d.deg * (d.deg - 1))
         AS cc_ppm
FROM deg d LEFT JOIN tri t USING (node)
WHERE d.deg >= 2
ORDER BY cc_ppm DESC, deg DESC, part ASC
LIMIT {TRI_TOPK}
"""

QUERIES["graph_clustering_coeff"] = (q_graph_clustering_coeff, _SQL_CLUSTERING)


# ---------------------------------------------------------------------------
# Neighbor-set Jaccard: the substitute-product signal
# ---------------------------------------------------------------------------

JAC_TOPK = 20


def q_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 NON-adjacent part pairs by neighbor-set Jaccard over the
    support-2 co-purchase graph: parts frequently bought alongside the
    same partners but never (significantly) together — the classic
    substitute-product signal (complements share edges, substitutes
    share neighborhoods).

    Plan: common-neighbor counting is one self-join of the directed edge
    list on the shared neighbor (same wedge volume as triangle counting),
    an anti-join drops actual edges, and degrees come from the one-row-
    per-node frame.  jaccard = common / (deg_u + deg_v - common), exact
    integer ppm."""
    edges = _sig_edges_for(spark, sf_dir)
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n1 = both.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    n2 = both.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    common = (
        n1.join(n2, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    non_adjacent = common.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    return (
        non_adjacent.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "common",
            F.expr("(common * 1000000) DIV (deg_u + deg_v - common)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy(F.desc("jaccard_ppm"), F.desc("common"), F.asc("part_a"), F.asc("part_b"))
        .limit(JAC_TOPK)
    )


_SQL_JACCARD = f"""
WITH {_SIG_SQL},
nb AS MATERIALIZED (
  SELECT src, dst FROM sig UNION ALL SELECT dst, src FROM sig
),
deg AS (SELECT src AS node, count(*) AS deg FROM nb GROUP BY src),
common AS (
  SELECT n1.dst AS u, n2.dst AS v, count(*) AS common
  FROM nb n1 JOIN nb n2 ON n1.src = n2.src AND n1.dst < n2.dst
  GROUP BY n1.dst, n2.dst
),
non_adj AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM sig e WHERE e.src = c.u AND e.dst = c.v)
)
SELECT n.u AS part_a, n.v AS part_b, n.common,
       (n.common * 1000000) // (du.deg + dv.deg - n.common) AS jaccard_ppm
FROM non_adj n
JOIN deg du ON du.node = n.u
JOIN deg dv ON dv.node = n.v
ORDER BY jaccard_ppm DESC, common DESC, part_a ASC, part_b ASC
LIMIT {JAC_TOPK}
"""

QUERIES["graph_jaccard_neighbors"] = (q_graph_jaccard_neighbors, _SQL_JACCARD)


# ---------------------------------------------------------------------------
# Bounded BFS: the recursive-CTE capability, Spark-shaped
# ---------------------------------------------------------------------------

BFS_MAX_DEPTH = 3


def q_graph_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram from the lowest-id part over the support-2
    co-purchase graph, depth <= 3: (depth, n_nodes).  This is the
    recursive-CTE workload (WITH RECURSIVE in a warehouse) expressed the
    scale-correct Spark way: a BOUNDED unrolled frontier expansion — each
    hop is one join frontier->edges + one min-aggregate, the same
    static-plan discipline as the PageRank fixpoint (no driver-side
    convergence loop; deterministic cost).  The oracle unrolls the same
    three hops as plain CTEs, so both engines evaluate the identical
    bounded recursion."""
    edges = _sig_edges_for(spark, sf_dir)
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    seed = both.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).alias("depth")
    )
    visited = seed
    frontier = seed
    for d in range(1, BFS_MAX_DEPTH + 1):
        neighbors = (
            frontier.join(both, frontier.node == both.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(d).alias("depth"))
        )
        neighbors = neighbors.localCheckpoint(eager=True)  # cut lineage per hop
        visited = visited.unionByName(neighbors)
        frontier = neighbors
    return visited.groupBy("depth").agg(F.count(F.lit(1)).alias("n_nodes"))


_SQL_BFS = f"""
WITH {_SIG_SQL},
nb AS MATERIALIZED (
  SELECT src, dst FROM sig UNION ALL SELECT dst, src FROM sig
),
d0 AS (SELECT min(src) AS node FROM nb),
d1 AS (
  SELECT DISTINCT e.dst AS node FROM nb e JOIN d0 ON e.src = d0.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT e.dst AS node FROM nb e JOIN d1 ON e.src = d1.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
    AND e.dst NOT IN (SELECT node FROM d1)
),
d3 AS (
  SELECT DISTINCT e.dst AS node FROM nb e JOIN d2 ON e.src = d2.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
    AND e.dst NOT IN (SELECT node FROM d1)
    AND e.dst NOT IN (SELECT node FROM d2)
)
SELECT depth, count(*) AS n_nodes FROM (
  SELECT 0 AS depth, node FROM d0
  UNION ALL SELECT 1, node FROM d1
  UNION ALL SELECT 2, node FROM d2
  UNION ALL SELECT 3, node FROM d3
) GROUP BY depth
"""

QUERIES["graph_bfs_depth"] = (q_graph_bfs_depth, _SQL_BFS)


# ---------------------------------------------------------------------------
# Bounded k-core peeling: the community-mining preprocessor
# ---------------------------------------------------------------------------

KCORE_K = 4
KCORE_ROUNDS = 3

# Driver peel regime (r15, the CC driver-labeling pattern): k-core peeling
# is pure integer degree arithmetic over the CANONICAL support-2 edge list
# — the same bounded artifact the CC driver regime collects — so below
# the maxResultSize-derived edge budget the 3 rounds run as one O(E)
# driver pass instead of 3 × (degree agg + 2 semi-joins + checkpoint +
# distinct-count job).  Over budget the distributed loop is untouched.
KCORE_DRIVER_CONF = "spark.keh.kcore.driverPeel"  # auto|true|false
_KCORE_SCHEMA = "round long, n_nodes long, n_edges long"


def _driver_edges(edges: DataFrame, regime: bool | None, site: str):
    """The edge list as an Arrow table when a driver regime applies —
    forced (``regime`` True), or auto (None) and within the
    :data:`CC_BYTES_PER_EDGE`-priced budget — else ``None``.  Both reads
    go through ``bounded_collect``, so on the memoized edge frame of
    :func:`_sig_edges_for` they run at most once per memo entry and
    budget; forced False never reads."""
    if regime is False:
        return None
    budget = None
    if regime is None:
        from ..conf import driver_max_result_bytes

        budget = driver_max_result_bytes(edges.sparkSession) // CC_BYTES_PER_EDGE
    return bounded_collect(edges, budget, site)


def _edge_index(table):
    """``(ids, src, dst)``: the sorted distinct node ids of a collected
    edge table and each edge's endpoints as dense indices into them."""
    import numpy as np

    if table.column("src").null_count or table.column("dst").null_count:
        raise ValueError("edge list holds a null node id")
    src = table.column("src").to_numpy()
    ids, inv = np.unique(
        np.concatenate([src, table.column("dst").to_numpy()]), return_inverse=True
    )
    return ids, inv[: len(src)], inv[len(src) :]


def _driver_kcore_rows(table, rounds: int, k: int) -> list[tuple[int, int, int]]:
    """Peel a collected canonical edge table on the driver; returns the
    same (round, n_nodes, n_edges) tuples as the distributed loop —
    integer degree counts, so the arithmetic is exact by construction."""
    import numpy as np

    ids, src, dst = _edge_index(table)

    def degrees(mask):
        return np.bincount(np.concatenate([src[mask], dst[mask]]), minlength=len(ids))

    alive = np.ones(len(src), dtype=bool)
    deg = degrees(alive)
    out = []
    for rnd in range(1, rounds + 1):
        keep = deg >= k
        alive &= keep[src] & keep[dst]
        deg = degrees(alive)
        out.append((rnd, int(np.count_nonzero(deg)), int(np.count_nonzero(alive))))
    return out


def kcore_rounds(
    edges: DataFrame,
    rounds: int = KCORE_ROUNDS,
    k: int = KCORE_K,
    driver_peel: bool | None = None,
) -> DataFrame:
    """Size of the graph after each of ``rounds`` rounds of k-core
    peeling (drop nodes with degree < ``k``, recompute degrees on the
    survivor subgraph, repeat): (round, n_nodes, n_edges).  ``edges``
    must be canonical (src < dst, no dups).  Peeling is the standard
    preprocessor before community detection at scale — it strips the
    low-degree periphery that dominates volume but carries no community
    signal.  Same bounded-unrolled discipline as PageRank/BFS: each
    round is one degree aggregate + one semi-join pair, the edge frame
    is checkpointed per round (lineage cut), and the round count is
    static so the plan and the oracle (the same three rounds as
    unrolled CTEs) evaluate the identical bounded fixpoint — full k-core
    convergence is the while-loop version of exactly this round body.

    ``driver_peel=None`` (auto) engages the r15 driver regime while the
    edge list fits the ``spark.driver.maxResultSize``-derived byte
    budget (:data:`CC_BYTES_PER_EDGE` pricing, one
    :func:`~kafka_error_handling_spark.regime.bounded_collect` probe,
    then the edges cross as Arrow columns and peel in numpy; both are
    remembered on a memoized edge frame, see :func:`_driver_edges`); an
    explicit bool or the :data:`KCORE_DRIVER_CONF` conf pins either
    regime.  A null node id raises ``ValueError`` in the driver regime."""
    spark = edges.sparkSession
    if driver_peel is None:
        driver_peel = forced_regime(spark, KCORE_DRIVER_CONF)
    table = _driver_edges(edges, driver_peel, "graph.kcore_rounds")
    if table is not None:
        return local_frame(spark, _driver_kcore_rows(table, rounds, k), _KCORE_SCHEMA)
    rows = []
    cur = edges
    for rnd in range(1, rounds + 1):
        both = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        keep = (
            both.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        cur = (
            cur.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )
        # the edge count rides the checkpoint job via observe (the CC
        # round's r12 pattern — one fewer fixed-cost job per round); the
        # node count needs a distinct, which CollectMetrics cannot
        # express, so it stays a separate bounded aggregate
        obs = Observation()
        cur = cur.observe(obs, F.count(F.lit(1)).alias("n_edges")).localCheckpoint(
            eager=True
        )
        n_nodes = (
            cur.select(F.col("src").alias("n"))
            .unionByName(cur.select(F.col("dst").alias("n")))
            .distinct()
            .count()
        )
        rows.append((rnd, n_nodes, obs.get["n_edges"]))
    return local_frame(spark, rows, _KCORE_SCHEMA)


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: :func:`kcore_rounds` over the support-2 co-purchase graph —
    see that function for the peel semantics and the r15 driver regime."""
    return kcore_rounds(_sig_edges_for(spark, sf_dir))


def _sql_kcore() -> str:
    prev = "sig"
    its = []
    for r in range(1, KCORE_ROUNDS + 1):
        its.append(f"""keep{r} AS (
  SELECT node FROM (
    SELECT node, count(*) AS deg FROM (
      SELECT src AS node FROM {prev} UNION ALL SELECT dst FROM {prev}
    ) GROUP BY node
  ) WHERE deg >= {KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  WHERE EXISTS (SELECT 1 FROM keep{r} k WHERE k.node = e.src)
    AND EXISTS (SELECT 1 FROM keep{r} k WHERE k.node = e.dst)
)""")
        prev = f"e{r}"
    rounds = " UNION ALL ".join(
        f"""SELECT {r} AS round,
       (SELECT count(*) FROM (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e{r} UNION ALL SELECT dst FROM e{r})))
         AS n_nodes,
       (SELECT count(*) FROM e{r}) AS n_edges"""
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
WITH {{_SIG_SQL}},
{",".join(its)}
SELECT round, n_nodes, n_edges FROM ({rounds})
""".replace("{_SIG_SQL}", _SIG_SQL)


QUERIES["graph_kcore"] = (q_graph_kcore, _sql_kcore())


# ---------------------------------------------------------------------------
# Unbounded connected components: the convergence-loop fixpoint consumer
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 64  # safety bound on the convergence loop, not a semantic cap

# Driver labeling regime (r14, guide §8 "decide with small rows"): below
# this byte budget the edge list is pulled once and labeled on the driver
# instead of running the distributed fixpoint.  The broadcast-labels regime
# already ships the label frame THROUGH the driver once per round; for a
# small graph the one-shot edge pull moves strictly fewer bytes than R
# rounds of label broadcast and replaces ~R×3 jobs (join + agg +
# checkpoint per round) with one bounded probe and one Arrow collect, and
# on the memoized support-2 edge frame both run once per memo entry and
# budget: the entry keeps the table (16 B/edge, counted in the 120 below)
# or the over-budget outcome, shared by the k-core and CC sites.  The
# budget derives from spark.driver.maxResultSize like every other regime
# crossover (≈256k edges at the 1g default — beyond that the loop's fixed
# cost is amortized anyway).  The edges arrive as two Arrow columns and
# are peeled or labeled in numpy, so at its peak the Python driver holds
# about 120 bytes per edge: 16 in the Arrow table and ~100 in numpy index
# and label arrays plus the output rows (traced on a 262k-edge random
# graph).  4 KiB/edge was sized for pickled Row objects and dict entries;
# the value is kept so that no regime crossover moves, which leaves ~30×
# slack.  The JVM side (the probe's budget + 1 buffered rows, the Arrow
# batches counted against maxResultSize) is smaller still.
CC_DRIVER_UF_CONF = "spark.keh.cc.driverUnionFind"  # auto|true|false
CC_BYTES_PER_EDGE = 4096


def _driver_components(table) -> list[tuple]:
    """Label a collected canonical edge table on the driver; returns the
    same sorted (node, comp_id = component-minimum id) rows as the loop.

    Min-label propagation with pointer jumping over dense indices, where
    ``lab[v]`` is a smaller-or-equal index in v's component.  Each round
    hooks the two roots of every edge onto the smaller of them (both
    directions), then jumps pointers (``lab = lab[lab]``) until every
    node points at its root; it stops when a round changes nothing.
    Hooking roots, not the endpoints themselves, matters on long paths
    with shuffled ids: a 20,000-node one takes 11 rounds, where endpoint
    hooking took ~13,000.  At the fixpoint both ends of every edge
    share a root, so each component has one root: its smallest index,
    which is its minimum id because ``np.unique`` sorts the ids."""
    import numpy as np

    ids, src, dst = _edge_index(table)
    lab = np.arange(len(ids))
    while True:
        prev = lab.copy()
        ls, ld = lab[src], lab[dst]
        np.minimum.at(lab, ls, ld)
        np.minimum.at(lab, ld, ls)
        jumped = lab[lab]
        while not np.array_equal(jumped, lab):
            lab, jumped = jumped, jumped[jumped]
        if np.array_equal(lab, prev):
            break
    return list(zip(ids.tolist(), ids[lab].tolist()))


def connected_components(
    edges: DataFrame,
    broadcast_labels: bool | None = None,
    max_rounds: int = CC_MAX_ROUNDS,
) -> DataFrame:
    """Exact connected components by min-label propagation iterated UNTIL
    CONVERGED; returns (node, comp_id) with comp_id = the component's
    minimum node id.  ``edges`` must be canonical (src < dst, no dups).

    This promotes the bounded label propagation of
    ``datapipe.dedup.neardup_components`` (fixed 5 rounds — fine for
    dense near-dup clusters, wrong for long paths) to the
    unbounded-until-converged variant, using the same auto-regime
    scaffold as :func:`pagerank_scaled`:

    - each round is ONE join (labels -> symmetrized edges) + one
      min-aggregate on the node key, the per-round label frame is
      localCheckpoint-ed (lineage cut — without it round t re-executes
      rounds 1..t-1 and the chain goes quadratic, the measured PageRank
      failure mode), and on a cluster both sides co-partition on the
      node key so every round reuses one exchange layout;
    - the regime guard: labels are broadcast per round only while |V|
      fits the ``spark.driver.maxResultSize``-derived byte budget
      (:func:`_broadcast_max_nodes`), else the joins run key-shuffled
      and nothing node-count-shaped ever reaches the driver;
    - CONVERGENCE is detected from one 1-row aggregate per round: labels
      only ever decrease under min-propagation, so the label-sum is
      strictly decreasing until fixpoint and "sum unchanged" == "no
      label changed".  The sum rides a DECIMAL(38,0) cast (a bigint sum
      could overflow silently at 1e9 nodes x 1e9 ids).  Per-round driver
      traffic is that single scalar — bounded at any graph size — and
      it PIGGYBACKS on the checkpoint job via ``DataFrame.observe``
      (r12: the eager localCheckpoint already executes the round's
      plan; a separate agg-collect job doubled the per-round fixed
      cost that dominates small graphs — one job per round, not two).
    - each round ALSO path-shortcuts: after the edge hop, labels chase
      one pointer (label <- label(label), a self-join of the one-row-
      per-node label frame).  Edge hops alone converge in O(diameter)
      rounds; with shortcutting the label-pointer trees halve in height
      per round, so convergence is O(log diameter) — the pointer-
      jumping idea behind Shiloach-Vishkin / the MapReduce large-star
      algorithm.  Measured on the sf0.01 gate graph (one 1860-node
      component): 20 rounds / 19.4s plain, 6 rounds / ~8s shortcut
      (unchanged with the fused min-neighbor init — the deep component
      bounds the count; the shallow sf0.1 graph drops 7 -> 6).

    ``max_rounds`` raises rather than silently truncating, so a graph
    that somehow exceeds the budget (2^64 diameter would be required)
    is loud, never wrong.

    r14: when ``broadcast_labels`` is left on auto (None), a third regime
    sits below both loop regimes — driver labeling (see
    ``CC_DRIVER_UF_CONF`` and :func:`_driver_components`), engaged only
    while the edge list fits the maxResultSize-derived byte budget: one
    :func:`~kafka_error_handling_spark.regime.bounded_collect` probe,
    then the edges cross as Arrow columns.  Passing an explicit
    ``broadcast_labels`` pins a LOOP regime (the tests' lever), and the
    conf can force the driver path on/off cluster-wide.  Over budget the
    probe is one partial pass of the edge pipeline (``take`` scales up
    partitions only until it has budget + 1 rows) that hands Python one
    row, against the ≥6 full passes the loop replaces.  A null node id
    raises ``ValueError`` in the driver regime.
    """
    if broadcast_labels is None:
        from pyspark.sql.types import StructField, StructType

        spark = edges.sparkSession
        table = _driver_edges(
            edges,
            forced_regime(spark, CC_DRIVER_UF_CONF),
            "graph.connected_components",
        )
        if table is not None:
            ntype = edges.schema["src"].dataType
            schema = StructType(
                [StructField(c, ntype, False) for c in ("node", "comp_id")]
            )
            # the local relation carries size stats, so consumers' joins can
            # auto-broadcast it; it is budget-bounded by construction (the
            # regime only engages under the maxResultSize-derived edge cap),
            # so the broadcast hint stays for sessions with auto-broadcast
            # off — a billion-doc corpus left-joining a small component
            # frame must not shuffle itself by the id
            return F.broadcast(local_frame(spark, _driver_components(table), schema))
    nb = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # initial label = min(v, min neighbor(v)): the identity init's first
    # edge hop fused into the node-list aggregation itself — same single
    # shuffle as the identity+distinct init, one fewer loop round (each
    # round is join+agg+checkpoint+one collect, the fixed cost that
    # dominates small graphs; on big graphs it drops one |E| pass).
    lab = (
        nb.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_mn"))
        .select("node", F.least(F.col("node"), F.col("_mn")).alias("label"))
        .localCheckpoint(eager=True)
    )
    if broadcast_labels is None:
        # same bounded scalar probe as pagerank_scaled: lab is one row per
        # node and already materialized, so count() is cheap
        broadcast_labels = lab.count() <= _broadcast_max_nodes(edges.sparkSession)
    hint = F.broadcast if broadcast_labels else (lambda df: df)

    prev_sum = None
    for _ in range(max_rounds):
        neigh = nb.join(hint(lab), nb.dst == lab.node).select(
            F.col("src").alias("node"), "label"
        )
        hop = (
            neigh.unionByName(lab)  # self label rides along — no self-loop edges
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer-jump: label <- label(label).  Labels are node ids, every
        # node has a row in `hop`, and label(v) <= v, so the inner join is
        # total and labels can only decrease — the convergence invariant
        # is untouched while pointer-tree height halves per round.
        ptr = hop.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        obs = Observation()
        lab_next = (
            hop.join(hint(ptr), hop.label == ptr.p_node)
            .select("node", F.col("p_label").alias("label"))
            .observe(obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]  # already computed by the checkpoint job
        lab = lab_next
        # cur_sum is NULL only when the label frame is empty (no edges):
        # already converged — without this the `prev_sum is not None`
        # guard would spin all max_rounds and raise (ADVICE r7).
        if cur_sum is None or (prev_sum is not None and cur_sum == prev_sum):
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_rounds} rounds "
            "(graph diameter exceeds the propagation budget; use a "
            "pointer-jumping variant for long-path graphs)"
        )
    return lab.select("node", F.col("label").alias("comp_id"))


def q_graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: component-size histogram (size, n_components) of the
    support-2 co-purchase graph under EXACT connected components — the
    converged fixpoint, not a bounded approximation.  The three SFs are
    genuinely different regimes for the loop (sf0.001: one 200-node
    component; sf0.01: one giant 1860-node component plus satellites;
    sf0.1: ~2.3k small components), so the convergence detection itself
    is exercised, not just one lucky round count."""
    comp = connected_components(_sig_edges_for(spark, sf_dir))
    sizes = comp.groupBy("comp_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_components"))


# The oracle runs the SAME fixpoint as a recursive CTE: reach(v, l)
# enumerates labels l reachable by v, pruned to l < dst on the recursive
# step — safe for the min because a component's minimum id is smaller
# than every node it propagates to (an intermediate pair (v, l > v) can
# be dropped: l is then not v's component minimum, and any path from the
# true minimum m to any w has m < w at every hop's OUTPUT pair).  UNION
# (distinct) recursion terminates at the closure; min(l) per node is the
# component id — converged semantics on both engines, no round constant
# to keep in sync.
_SQL_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE {_SIG_SQL},
nb AS MATERIALIZED (
  SELECT src, dst FROM sig UNION ALL SELECT dst, src FROM sig
),
reach(node, label) AS (
  SELECT src, src FROM nb
  UNION
  SELECT e.dst, r.label FROM reach r JOIN nb e ON e.src = r.node
  WHERE r.label < e.dst
),
comp AS (SELECT node, min(label) AS comp_id FROM reach GROUP BY node),
sizes AS (SELECT comp_id, count(*) AS size FROM comp GROUP BY comp_id)
SELECT size, count(*) AS n_components
FROM sizes GROUP BY size
"""

QUERIES["graph_connected_components"] = (
    q_graph_connected_components,
    _SQL_CONNECTED_COMPONENTS,
)
