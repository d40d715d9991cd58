"""Graph operators (key prefix ``graph_``) over the edge relations the
TPC-H tables imply: the nation trade graph, the co-order part graph and
the supplier-part bipartite graph.

Iterative algorithms (PageRank, label propagation, BFS, connected
components, k-core peeling) keep their arithmetic integer-exact or
integer-quantized so an unrolled DuckDB oracle reproduces them bit for
bit (operators/graph.py documents the recipes). The shared edge relations
are materialized once per session (``_util.co_order_part_adj`` and
friends), so most keys here run Spark jobs while their DataFrame is built
(``eager="compute"``).

The reference delegates all analytics of this shape to its warehouse/gold
tier (reference README.md:108-118 declares the tier but ships no
implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import fquant, t


PR_ITERS = 3
PR_DAMPING = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (customer's nation →
    supplier's nation, weighted by lineitem count) — the host/domain
    authority signal a web-corpus curation pipeline computes before
    deciding sampling weights per source.

    The edge build is the interesting part at scale: a 3-way fact join
    (customer⋈orders⋈lineitem⋈supplier) reduced to a tiny weighted edge
    list BEFORE any iteration touches it — the iterations then run on
    O(V+E) state, never on the 100 TB fact table. Cross-engine exactness
    comes from operators/graph.py's integer-quantized contribution sums
    (see its docstring); the oracle unrolls the same three iterations as
    SQL CTEs."""
    from ..operators.graph import pagerank
    from ._util import nation_trade_pairs

    nation = t(spark, sf_dir, "nation")
    edges = (
        nation_trade_pairs(spark, sf_dir)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = pagerank(nodes, edges, iters=PR_ITERS, damping=PR_DAMPING)
    return (
        ranks.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            ranks.node == F.col("n_nationkey"),
        )
        .select(
            F.col("node").alias("nationkey"),
            "n_name",
            fquant(F.col("pr"), 8).alias("pagerank"),
        )
    )


def _pr_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration: integer-quantized contribution
    sum (exact, order-insensitive) + damped update — the SQL mirror of
    operators/graph.py::pagerank's loop body."""
    return f"""
c{i} AS (
  SELECT e.dst,
         SUM(CAST(floor(p.pr * (e.w / o.wout) * 1e14) AS BIGINT)) AS s
  FROM edges e
  JOIN p{i - 1} p ON p.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), p{i} AS (
  SELECT n.node,
         -- the damped base is interpolated as the PRE-EVALUATED Python
         -- double ((1.0-0.85) = 0.15000000000000002 in IEEE), forced to
         -- DOUBLE with the e0 suffix: writing (1.0 - 0.85) here would
         -- evaluate in DuckDB's exact DECIMAL (0.15 exactly -> a
         -- different double), breaking bit-identity with the Spark side
         {(1.0 - PR_DAMPING)!r}e0 / nn.n
           + {PR_DAMPING} * (CAST(COALESCE(c.s, 0) AS DOUBLE) / 1e14) AS pr
  FROM nodes n
  LEFT JOIN c{i} c ON c.dst = n.node
  CROSS JOIN nn
)"""


GRAPH_PAGERANK_SQL = f"""
WITH edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), nodes AS (
  SELECT n_nationkey AS node FROM nation
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), outw AS (
  SELECT src, SUM(w) AS wout FROM edges GROUP BY src
), p0 AS (
  SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn
),{",".join(_pr_iter_sql(i) for i in range(1, PR_ITERS + 1))}
SELECT p.node AS nationkey, n.n_name,
       floor(p.pr * 100000000.0) / 100000000.0 AS pagerank
FROM p{PR_ITERS} p JOIN nation n ON n.n_nationkey = p.node
"""


# ------------------------------------------------------ graph_triangles

def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the nation trade graph (same edge build as
    graph_pagerank: customer's nation ↔ supplier's nation, undirected).

    Scale shape: the 100 TB fact join is reduced to a distinct edge list
    FIRST (one shuffle), then the triangle join runs on O(E) canonical
    edges with a < b < c ordering — the standard compact-forward
    formulation that enumerates each triangle exactly once. The edge
    list is localCheckpointed so the 4-way fact join runs once, not
    three times."""
    from ._util import nation_trade_pairs

    pairs = (
        nation_trade_pairs(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1 = pairs.select(F.col("a").alias("na"), F.col("b").alias("nb"))
    e2 = pairs.select(F.col("a").alias("nb2"), F.col("b").alias("nc"))
    e3 = pairs.select(F.col("a").alias("na3"), F.col("b").alias("nc3"))
    return (
        e1.join(e2, F.col("nb") == F.col("nb2"))
        .join(
            e3,
            (F.col("na") == F.col("na3")) & (F.col("nc") == F.col("nc3")),
        )
        .select("na", "nb", "nc")
    )


GRAPH_TRIANGLES_SQL = """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
)
SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
FROM e0 e1
JOIN e0 e2 ON e2.a = e1.b
JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
"""


LPA_ITERS = 3


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted nation trade graph (the shared
    ``nation_trade_pairs`` fact-join reduction), emitted in both
    directions."""
    from ._util import nation_trade_pairs

    directed = (
        nation_trade_pairs(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    rev = directed.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
    )
    return (
        directed.unionByName(rev)
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous weighted label propagation, 3 iterations: each node
    adopts the label with the max total incident edge weight among its
    neighbors' current labels, smallest label on ties — the cheap
    community-detection signal (host clusters, trading blocs) corpus
    curation uses for stratification.

    Integer-exact by construction: weights are lineitem counts, label
    choice is an integer argmax with a total tie-break — NO floats
    anywhere, so cross-engine equality is unconditional (a stronger
    guarantee than pagerank's quantized doubles). Iterations run on the
    localCheckpointed O(V+E) edge list, one shuffle per round; isolated
    nodes keep their label via the left join.

    Completes the iterative-exactness family (graph_pagerank, ml_kmeans,
    llm_bpe_train): here the arithmetic is integer-only (edge weights are
    lineitem counts), so cross-engine equality needs no quantization at all."""
    nation = t(spark, sf_dir, "nation")
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = nation.select(
        F.col("n_nationkey").alias("node"),
        F.col("n_nationkey").alias("label"),
    )
    for _ in range(LPA_ITERS):
        contrib = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("lw"))
        )
        # argmax by (lw DESC, label ASC): max of struct(lw, -label)
        best = (
            contrib.groupBy("dst")
            .agg(
                F.max(
                    F.struct(
                        F.col("lw"),
                        (-F.col("label")).alias("neg"),
                    )
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), (-F.col("m.neg")).alias("nl"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("nl", "label").alias("label"),
            )
        )
    return (
        labels.join(
            F.broadcast(nation),
            labels.node == F.col("n_nationkey"),
        )
        .select(F.col("node").alias("nationkey"), "n_name",
                F.col("label").cast("int").alias("community"))
    )


def _lpa_iter_sql(i: int) -> str:
    p = i - 1
    return f"""
c{i} AS (
  SELECT e.dst, l.label, SUM(e.w) AS lw
  FROM edges e JOIN l{p} l ON e.src = l.node
  GROUP BY e.dst, l.label
), b{i} AS (
  SELECT dst AS node, label AS nl,
         ROW_NUMBER() OVER (PARTITION BY dst
                            ORDER BY lw DESC, label ASC) AS rn
  FROM c{i}
), l{i} AS (
  SELECT l.node, COALESCE(b.nl, l.label) AS label
  FROM l{p} l LEFT JOIN (SELECT node, nl FROM b{i} WHERE rn = 1) b
    ON l.node = b.node
)"""


GRAPH_LPA_SQL = (
    """
WITH directed AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY c.c_nationkey, s.s_nationkey
), edges AS MATERIALIZED (
  SELECT src, dst, SUM(w) AS w FROM (
    SELECT src, dst, w FROM directed
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM directed
  ) GROUP BY src, dst
), l0 AS (
  SELECT n_nationkey AS node, n_nationkey AS label FROM nation
)"""
    + "".join("," + _lpa_iter_sql(i) for i in range(1, LPA_ITERS + 1))
    + f"""
SELECT l.node AS nationkey, n.n_name, CAST(l.label AS INT) AS community
FROM l{LPA_ITERS} l JOIN nation n ON l.node = n.n_nationkey
"""
)


# ------------------------------------------------------------- graph_bfs

BFS_MAX_HOPS = 10


def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop counts (BFS) from the smallest part key over the
    co-order part graph (parts are adjacent when some order contains
    both) — the traversal member of the graph family (PageRank = scoring,
    LPA = communities, triangles = local structure, components =
    reachability classes; BFS = DISTANCE). The engine runs
    frontier-at-a-time rounds over the BIPARTITE (order, part)
    membership relation (operators/graph.py::bfs_hops_bipartite): per
    round, frontier → its orders → their members, minus visited — work
    is O(frontier membership), rounds = diameter, never O(V²) and
    never the Σ|order|² clique expansion. The oracle is a recursive CTE
    whose UNION-dedup keeps (node, hops) rows distinct and takes
    MIN(hops): exact shortest distances for every node within the hop
    bound, identical by construction (a co-order edge ⇔ a 2-step
    bipartite path, so clique-graph hops = bipartite hops / 2).

    The membership relation is the session-memoized shared basket-edge
    relation (_util.order_part_edges — ml_assoc_rules consumes the
    same one), already distinct/materialized, so this call adds no
    edge-build work after the family's first touch. The source is the
    MIN part key — one O(1)-bounded scalar collect, same justification
    as the BPE argmax."""
    from ..operators.graph import bfs_hops_bipartite
    from ._util import order_part_edges

    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    # Optimization r14 (guide §1.2 "the distributed algorithm"): walk the
    # bipartite (order, part) membership relation (Σ|order| rows — the
    # session-memoized basket edges ml_assoc_rules shares) instead of the
    # clique-expanded co-order adjacency (Σ|order|² edges, 12.5M rows /
    # 200 MB re-scanned per frontier round at sf0.1). Hop counts are
    # IDENTICAL by construction (a co-order edge ⇔ a 2-step bipartite
    # path; see bfs_hops_bipartite) — pinned against bfs_hops over the
    # clique expansion in tests/test_operators.py.
    edges = order_part_edges(spark, sf_dir)
    source = li.agg(F.min("l_partkey")).collect()[0][0]  # O(1) scalar
    if source is None:
        # empty table: no source node, no walk (the oracle's recursive
        # seed is NULL-filtered for the same reason)
        return spark.createDataFrame([], "part bigint, hops int")
    res = bfs_hops_bipartite(
        edges, int(source), group_col="l_orderkey", node_col="l_partkey",
        max_hops=BFS_MAX_HOPS,
    )
    return res.select(
        F.col("node").alias("part"), F.col("hops").cast("int").alias("hops")
    )


GRAPH_BFS_SQL = f"""
WITH RECURSIVE e0 AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), e AS (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), walk(node, hops) AS (
    SELECT (SELECT MIN(l_partkey) FROM lineitem), 0
    UNION
    SELECT e.dst, w.hops + 1
    FROM walk w JOIN e ON e.src = w.node
    WHERE w.hops < {BFS_MAX_HOPS}
)
SELECT node AS part, CAST(MIN(hops) AS INT) AS hops
FROM walk WHERE node IS NOT NULL GROUP BY node
"""


# ------------------------------------------------------ graph_degree_dist

def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-order part graph (parts are
    adjacent when some order contains both — the same graph the
    pagerank/LPA/triangles/BFS keys run on): per-node neighbor count,
    histogrammed. The heavy-tail shape of this histogram is what
    decides whether the other graph keys need skew handling, which
    makes it the family's capacity-planning diagnostic.

    Scale: the adjacency is the session-memoized shared relation
    (_util.co_order_part_adj — one lineitem self-join + distinct per
    session for the whole graph family; hot orders are AQE skew-split
    on its first build), then two map-side-combinable aggregates over
    node-sized relations."""
    from ._util import co_order_part_adj

    nbrs = co_order_part_adj(spark, sf_dir)
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    ).select(F.col("degree").cast("long").alias("degree"), "n_parts")


GRAPH_DEGREE_DIST_SQL = """
WITH pairs AS (
    SELECT l_orderkey, l_partkey FROM lineitem
), nbrs AS (
    SELECT DISTINCT x.l_partkey AS node, y.l_partkey AS nbr
    FROM pairs x JOIN pairs y USING (l_orderkey)
    WHERE x.l_partkey <> y.l_partkey
), deg AS (
    SELECT node, COUNT(*) AS degree FROM nbrs GROUP BY node
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM deg GROUP BY degree
"""


# ------------------------------------------------------------ graph_jaccard


def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-supplier neighborhood similarity on the supply bipartite
    graph: suppliers are neighbors of the parts they ship, and each
    supplier pair sharing at least one part gets the Jaccard of their
    part sets — |A∩B| / (|A| + |B| − |A∩B|), exact integers into one
    double division. This is item-item collaborative similarity, and the
    same posting-list self-join that powers ``llm_dedup_ngram``
    (operators/dedup.py:54) — there the postings are trigrams, here
    parts.

    Scale: the fact table collapses to DISTINCT (supplier, part) edges
    first and is materialized via the session-memoized shared relation
    (_util.supplier_part_edges) — edges feed FOUR consumers (both
    pair-join sides and both degree lookups), and without the
    materialization Catalyst duplicates the subtree into four full fact
    scans (measured: 4× FileScan at plan time). The pair join
    is per-part (cost Σ deg(part)², bounded because part fan-out is
    capped by the sourcing model — the hot-key frequency-stop lever
    from the ngram dedup applies verbatim if a part's supplier list
    explodes); degrees are a node-sized relation and broadcast to the
    pair stream."""
    from ._util import supplier_part_edges

    edges = supplier_part_edges(spark, sf_dir)
    deg = edges.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("deg")
    )
    a = edges.alias("a")
    bb = edges.alias("b")
    common = (
        a.join(bb, F.col("a.l_partkey") == F.col("b.l_partkey"))
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("supp_a"),
            F.col("b.l_suppkey").alias("supp_b"),
        )
        .agg(F.count(F.lit(1)).alias("common_parts"))
    )
    da = F.broadcast(deg.select(
        F.col("l_suppkey").alias("supp_a"), F.col("deg").alias("deg_a")
    ))
    db = F.broadcast(deg.select(
        F.col("l_suppkey").alias("supp_b"), F.col("deg").alias("deg_b")
    ))
    union = F.col("deg_a") + F.col("deg_b") - F.col("common_parts")
    return (
        common.join(da, "supp_a").join(db, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "common_parts",
            "deg_a",
            "deg_b",
            fquant(
                F.col("common_parts").cast("double")
                / union.cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


GRAPH_JACCARD_SQL = """
WITH edges AS (
    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), deg AS (
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS deg
    FROM edges GROUP BY 1
), pairs AS (
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS common_parts
    FROM edges a JOIN edges b ON a.l_partkey = b.l_partkey
    WHERE a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
)
SELECT supp_a, supp_b, common_parts,
       da.deg AS deg_a, db.deg AS deg_b,
       floor(CAST(common_parts AS DOUBLE)
             / CAST(da.deg + db.deg - common_parts AS DOUBLE)
             * 1000000.0) / 1000000.0 AS jaccard
FROM pairs
JOIN deg da ON pairs.supp_a = da.l_suppkey
JOIN deg db ON pairs.supp_b = db.l_suppkey
"""


# -------------------------------------------------------- graph_components

#: Keep a trade edge when its pair count reaches this fraction of the
#: maximum pair count (×2 to stay in integers: kept iff 2·cnt ≥ max).
#: Filtering fragments the dense trade graph so the component structure
#: is non-trivial at every scale factor.


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the strong-trade nation graph: nations
    are linked when their (customer-nation, supplier-nation) trade pair
    count reaches half the maximum pair count; every nation gets the
    smallest nation key reachable through such strong links (weakly
    traded nations come out as singletons). Promotes the dedup-cluster
    closure operator (operators/graph.py::connected_components — the
    same hash-to-min iteration behind ``llm_dedup_cluster``) to a
    first-class graph key with a transitive-closure oracle.

    Scale: the 100 TB fact table reduces to the weighted nation-pair
    edge list FIRST (one aggregation over the shared
    nation_trade_pairs reduction — dimensions broadcast); the max
    weight rides a window over the EDGE relation (no second scan), and
    the min-label iterations run on O(V+E) state with per-round
    materialization (honors the reliable-checkpoint opt-in). The
    oracle's recursive closure is exponential in edge count — fine for
    the 25-nation graph, which is exactly why the threshold operates on
    the nation-level reduction."""
    from ..operators.graph import connected_components
    from ._util import nation_trade_pairs

    nation = t(spark, sf_dir, "nation")
    pairs = (
        nation_trade_pairs(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("src"),
            F.greatest("c_nationkey", "s_nationkey").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    kept = (
        pairs.withColumn("mx", F.max("cnt").over(w))
        .filter(2 * F.col("cnt") >= F.col("mx"))
        .select("src", "dst")
    )
    # a graph's node set is a SET: duplicate-pk nation rows (round-12
    # dupkey axis) must collapse to one node, or the min-label iteration
    # carries duplicate state and the name join below fans out 2x2
    nodes = nation.select(F.col("n_nationkey").alias("id")).distinct()
    comp = connected_components(nodes, kept)
    return (
        comp.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            comp.id == F.col("n_nationkey"),
        )
        # per NAME, min component — the oracle's GROUP BY n_name
        # mirrored exactly, so a duplicated pk (same or perturbed name)
        # yields identical rows on both engines
        .groupBy("n_name")
        .agg(F.min("component").cast("long").alias("component"))
    )


GRAPH_COMPONENTS_SQL = """
WITH RECURSIVE pairs AS MATERIALIZED (
    SELECT least(c.c_nationkey, s.s_nationkey) AS src,
           greatest(c.c_nationkey, s.s_nationkey) AS dst,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY 1, 2
), kept AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT src, dst, cnt, MAX(cnt) OVER () AS mx FROM pairs
    ) WHERE 2 * cnt >= mx
), sym AS MATERIALIZED (
    SELECT src, dst FROM kept UNION SELECT dst, src FROM kept
), walk(node, reach) AS (
    SELECT n_nationkey, n_nationkey FROM nation
    UNION
    SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach
)
SELECT n.n_name, CAST(MIN(w.reach) AS BIGINT) AS component
FROM walk w JOIN nation n ON n.n_nationkey = w.node
GROUP BY n.n_name
"""


# -------------------------------------------------------------- graph_kcore

#: Degree floor for the core and the fixed peeling-round count. Bounded
#: rounds make the operator deterministic and SQL-unrollable (true
#: k-core is this loop run to fixpoint; each extra round is one more
#: unrolled CTE — the same bounded-iteration contract as
#: graph_pagerank / ml_kmeans / llm_bpe_train).
KCORE_K = 3
KCORE_ROUNDS = 4


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling of the co-order part graph: repeatedly
    drop nodes with degree < KCORE_K (KCORE_ROUNDS rounds — each round
    removes nodes whose degree collapsed when the previous round's
    victims left), then report each surviving node's residual degree.
    The density decomposition a curation pipeline uses to find the
    structurally robust subgraph.

    Scale: the adjacency is the session-shared materialized relation
    (_util.co_order_part_adj — graph_bfs and graph_degree_dist consume
    the same one); the peel itself is operators.graph.kcore_peel —
    per-round node-sized degree checkpoints whose drop count rides the
    checkpoint job as an observe() metric, with a fixpoint early-exit
    (a round that drops nothing makes every remaining round the
    identity, so the result is identical to the full KCORE_ROUNDS
    unroll the oracle SQL runs — pinned by the operator's
    early-exit-vs-full-unroll test)."""
    from ..operators.graph import kcore_peel
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    return kcore_peel(adj, KCORE_K, KCORE_ROUNDS).select(
        F.col("node").alias("part"), F.col("d").cast("long").alias("degree")
    )


def _kcore_sql() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"k{r} AS MATERIALIZED (\n"
            f"    SELECT node FROM (SELECT x AS node FROM {prev}\n"
            f"    ) GROUP BY node HAVING COUNT(*) >= {KCORE_K}\n"
            f"), e{r} AS MATERIALIZED (\n"
            f"    SELECT x, y FROM {prev}\n"
            f"    WHERE x IN (SELECT node FROM k{r})\n"
            f"      AND y IN (SELECT node FROM k{r})\n"
            f")"
        )
        prev = f"e{r}"
    body = ",\n".join(rounds)
    return f"""
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
{body}
SELECT x AS part, CAST(COUNT(*) AS BIGINT) AS degree
FROM {prev} GROUP BY x
"""


GRAPH_KCORE_SQL = _kcore_sql()


# ------------------------------------------------------ graph_assortativity


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-order part graph: the Pearson
    correlation of endpoint degrees across edges. Positive ⇒ hubs link
    to hubs (assortative); negative ⇒ hubs link to leaves — the
    structural signal that decides whether hot-key skew defenses are
    needed on the OTHER graph keys (a disassortative hub touches
    everything).

    Because the shared adjacency is SYMMETRIC, the x and y marginals
    over directed edges are identical, so r = (nΣxy − (Σx)²) /
    (nΣx² − (Σx)²) — fully rational: exact DECIMAL(38,0) sums into ONE
    double division, no sqrt, no libm, bit-identical cross-engine.

    Scale: degrees are a node-sized aggregate of the session-shared
    materialized relation (_util.co_order_part_adj — fourth consumer);
    the edge⋈degree joins broadcast the node-sized degree relation; the
    moment sums are one map-side-combinable aggregate over edges.

    The network-mixing diagnostic (do well-connected parts co-occur with
    well-connected parts?); by symmetry of the edge relation the Pearson
    form collapses to a fully rational statistic (no sqrt, no libm)."""
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x = F.col("dx").cast("decimal(38,0)")
    y = F.col("dy").cast("decimal(38,0)")
    edges = (
        adj.join(F.broadcast(deg), "node")
        .withColumnRenamed("d", "dx")
        .join(
            F.broadcast(
                deg.select(
                    F.col("node").alias("nbr"), F.col("d").alias("dy")
                )
            ),
            "nbr",
        )
    )
    mom = edges.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return mom.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.when(den > 0, fquant(num / den, 6)).alias("assortativity"),
    )


GRAPH_ASSORTATIVITY_SQL = """
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS node, b.l_partkey AS nbr
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS MATERIALIZED (
    SELECT node, COUNT(*) AS d FROM e0 GROUP BY node
), mom AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(dx.d AS HUGEINT)) AS sx,
           SUM(CAST(dx.d AS HUGEINT) * CAST(dy.d AS HUGEINT)) AS sxy,
           SUM(CAST(dx.d AS HUGEINT) * CAST(dx.d AS HUGEINT)) AS sxx
    FROM e0
    JOIN deg dx ON dx.node = e0.node
    JOIN deg dy ON dy.node = e0.nbr
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         floor(CAST(n * sxy - sx * sx AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS assortativity
FROM mom
"""


# --------------------------------------------------- graph_clustering_coeff


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part node: C(v) = 2·T(v) /
    (d(v)·(d(v)−1)) on the co-order part graph — how close each node's
    neighborhood is to a clique, the density signal community detection
    and recommendation diversity checks start from.

    Triangles are counted ONCE via degree orientation: each undirected
    edge points from its (degree, key)-smaller endpoint to the larger,
    making the graph a DAG where every triangle x→y→z appears exactly
    once, anchored on its base edge (x, y) with z ∈ out(x) ∩ out(y).
    The intersection runs as an in-memory array_intersect per edge
    (the GraphFrames/array-adjacency pattern): per-node sorted
    out-neighbor arrays are node-sized and broadcast onto the edge
    relation, so NO wedge stream is ever materialized or shuffled — a
    wedge join would move Σ d⁺(v)² rows (~40M at sf0.1) through an
    exchange; this moves |E| rows through zero. Each triangle credits
    its three corners via one array_repeat+explode; everything stays
    integer until the single final division (exact → fquant 6).

    Scale: adjacency is the session-shared checkpoint (fifth consumer);
    out-lists are bounded by max degree. On a graph too large to
    broadcast the node relation, the same plan degrades to two
    equi-joins (AQE skew-splits hot nodes) — still never a wedge
    shuffle and never all-pairs.

    The classic local-density diagnostic; triangles are enumerated once over
    a degree-oriented DAG (the compact-forward formulation — wedge work is Σ
    d⁺(v)², the orientation that minimizes it), never per-wedge-per-node."""
    from ..operators.graph import materialize
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # degree orientation: keep (node, nbr) only when (d, key) ascends.
    # Materialized once — its two consumers (the out-list build and the
    # edge stream) would otherwise each replay the degree joins (the
    # duplicate-subtree class the graph family checkpoints against).
    oe = materialize(
        adj.join(F.broadcast(deg), "node")
        .withColumnRenamed("d", "da")
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("nbr"), F.col("d").alias("db"))
            ),
            "nbr",
        )
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("node") < F.col("nbr")))
        )
        .select(F.col("node").alias("a"), F.col("nbr").alias("b")),
        eager=False,
    )
    outl = oe.groupBy("a").agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    zs = F.array_intersect("nx", "ny")
    tri_e = (
        oe.join(
            F.broadcast(
                outl.select(F.col("a").alias("x2"), F.col("nbrs").alias("nx"))
            ),
            F.col("a") == F.col("x2"),
        )
        .join(
            F.broadcast(
                outl.select(F.col("a").alias("y2"), F.col("nbrs").alias("ny"))
            ),
            F.col("b") == F.col("y2"),
            "left",  # sinks have no out-list
        )
        .select(
            "a",
            "b",
            F.when(
                F.col("ny").isNotNull() & (F.size(zs) > 0), zs
            ).alias("zs"),
        )
        .filter(F.col("zs").isNotNull())
    )
    tcount = F.size("zs")
    corners = tri_e.select(
        F.explode(
            F.concat(
                F.array_repeat(F.col("a"), tcount),
                F.array_repeat(F.col("b"), tcount),
                F.col("zs"),
            )
        ).alias("node")
    )
    tcnt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("tri"))
    t0 = F.coalesce(F.col("tri"), F.lit(0))
    d = F.col("d")
    return (
        deg.join(F.broadcast(tcnt), "node", "left")
        .select(
            "node",
            d.cast("long").alias("degree"),
            t0.cast("long").alias("n_triangles"),
            F.when(
                d >= 2,
                fquant(
                    (2 * t0).cast("double") / (d * (d - 1)).cast("double"),
                    6,
                ),
            ).alias("clustering"),
        )
    )


GRAPH_CLUSTERING_COEFF_SQL = """
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS node, b.l_partkey AS nbr
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS MATERIALIZED (
    SELECT node, COUNT(*) AS d FROM e0 GROUP BY node
), oe AS MATERIALIZED (
    SELECT e0.node AS a, e0.nbr AS b
    FROM e0
    JOIN deg da ON da.node = e0.node
    JOIN deg db ON db.node = e0.nbr
    WHERE (da.d < db.d) OR (da.d = db.d AND e0.node < e0.nbr)
), tri AS MATERIALIZED (
    SELECT w1.a AS x, w1.b AS y, w2.b AS z
    FROM oe w1
    JOIN oe w2 ON w2.a = w1.b
    JOIN oe w3 ON w3.a = w1.a AND w3.b = w2.b
), tcnt AS (
    SELECT node, COUNT(*) AS tri FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY node
)
SELECT deg.node,
       CAST(d AS BIGINT) AS degree,
       CAST(COALESCE(tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d >= 2 THEN
         floor(CAST(2 * COALESCE(tri, 0) AS DOUBLE)
               / CAST(d * (d - 1) AS DOUBLE) * 1000000.0) / 1000000.0
       END AS clustering
FROM deg LEFT JOIN tcnt USING (node)
"""


# ---------------------------------------------------------- graph_modularity


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition on the co-order part
    graph: per community c, Q_c = E_c/(2m) − (d_c/(2m))², where E_c is
    the directed within-community edge count, d_c the community degree
    sum and 2m the directed edge total. The quantity every
    community-detection pass optimizes — here grading a GIVEN partition
    (does brand structure explain co-purchase structure?), which is the
    audit a 100 TB graph tier runs after any clustering job.

    Fully rational: Q_c = (E_c·D − d_c²)/D² with D = 2m — exact
    BIGINT/DECIMAL moments into ONE double division per community
    (fquant 9; contributions are small). SIXTH consumer of the shared
    adjacency; the brand map is dimension-sized and broadcast twice
    (both endpoints); totals are windows over the 25-community
    relation, never a second corpus pass."""
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    brand = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("bc")
    )
    lab = (
        adj.join(F.broadcast(brand), "node")
        .join(
            F.broadcast(
                brand.select(
                    F.col("node").alias("nbr"), F.col("bc").alias("bn")
                )
            ),
            "nbr",
        )
    )
    per = lab.groupBy(F.col("bc").alias("community")).agg(
        F.count(F.lit(1)).alias("deg_sum"),
        F.sum(
            F.when(F.col("bc") == F.col("bn"), 1).otherwise(0)
        ).alias("internal_dir"),
        F.countDistinct("node").alias("n_nodes"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    big_d = F.sum("deg_sum").over(wall)
    num = (
        F.col("internal_dir").cast("decimal(38,0)")
        * big_d.cast("decimal(38,0)")
        - F.col("deg_sum").cast("decimal(38,0)")
        * F.col("deg_sum").cast("decimal(38,0)")
    )
    den = big_d.cast("decimal(38,0)") * big_d.cast("decimal(38,0)")
    return per.select(
        "community",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("internal_dir").cast("long").alias("internal_dir"),
        F.col("deg_sum").cast("long").alias("deg_sum"),
        fquant(
            num.cast("double") / den.cast("double"), 9
        ).alias("q_contrib"),
    )


GRAPH_MODULARITY_SQL = """
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS node, b.l_partkey AS nbr
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), lab AS (
    SELECT pa.p_brand AS bc, pb.p_brand AS bn, e0.node
    FROM e0
    JOIN part pa ON pa.p_partkey = e0.node
    JOIN part pb ON pb.p_partkey = e0.nbr
), per AS (
    SELECT bc AS community,
           COUNT(*) AS deg_sum,
           SUM(CASE WHEN bc = bn THEN 1 ELSE 0 END) AS internal_dir,
           COUNT(DISTINCT node) AS n_nodes
    FROM lab GROUP BY bc
), tot AS (
    SELECT community, n_nodes, internal_dir, deg_sum,
           SUM(deg_sum) OVER () AS big_d
    FROM per
)
SELECT community,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(internal_dir AS BIGINT) AS internal_dir,
       CAST(deg_sum AS BIGINT) AS deg_sum,
       floor(CAST(CAST(internal_dir AS HUGEINT) * big_d
                  - CAST(deg_sum AS HUGEINT) * CAST(deg_sum AS HUGEINT)
                  AS DOUBLE)
             / CAST(CAST(big_d AS HUGEINT) * CAST(big_d AS HUGEINT)
                    AS DOUBLE)
             * 1000000000.0) / 1000000000.0 AS q_contrib
FROM tot
"""


# --------------------------------------------------------- graph_resource_alloc

#: Fixed-point scale for the 1/degree terms: each shared part
#: contributes floor(10^12 / deg) as an exact BIGINT, so the
#: order-independent SUM never touches a float (the pagerank
#: integer-quantization pattern applied to link prediction).
RA_SCALE = 1_000_000_000_000

#: Candidates kept per source node. Link prediction is a candidate
#: GENERATOR — emitting every scoring pair is O(V²) output on a dense
#: co-neighborhood graph (measured: all 499,500 supplier pairs score at
#: sf0.1). The top-K contract bounds the sink to K·V rows, which is
#: what a recommender actually consumes. Explicit cap, not a silent one.
RA_TOP_K = 10


def graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link-prediction index on the supply
    bipartite graph: for each supplier pair sharing ≥ 1 part,
    RA(a,b) = Σ_{p ∈ Γ(a)∩Γ(b)} 1/deg(p) — graph_jaccard's
    shared-neighbor pairs, but each shared part down-weighted by its
    supplier fan-out, so ubiquitous hub parts stop dominating the
    score (why RA beats common-neighbor counting as a link predictor).
    SEVENTH consumer of the session-materialized edge relations. Emits
    the top-``RA_TOP_K`` candidates per source supplier — the
    candidate-generation contract (all-pairs output is O(V²) on a
    dense co-neighborhood graph and feeds nothing downstream).

    Determinism: each term is floor(10¹²/deg) — ONE IEEE division of
    exact integers, floored — summed as exact BIGINTs
    (order-independent), then rendered by one final division; the
    top-K rank orders by the exact integer score with supp_b as the
    total-order tiebreak.

    Scale: part degrees are a part-sized relation broadcast onto the
    edge stream BEFORE the pair join, so the per-part self-join (cost
    Σ deg(p)², the graph_jaccard bound — hot parts get the ngram-dedup
    frequency-stop lever) carries its weights with it and the pair
    aggregate is one map-side-combinable shuffle. Nothing rescans the
    fact table: the edges are the shared checkpoint."""
    from ._util import supplier_part_edges

    edges = supplier_part_edges(spark, sf_dir)
    pdeg = edges.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("pdeg")
    )
    term = F.floor(
        F.lit(float(RA_SCALE)) / F.col("pdeg").cast("double")
    ).cast("long")
    weighted = edges.join(F.broadcast(pdeg), "l_partkey").select(
        "l_partkey",
        F.col("l_suppkey").alias("supp_a"),
        term.alias("term"),
    )
    pairs = (
        weighted.join(
            edges.select(
                F.col("l_partkey").alias("l_partkey"),
                F.col("l_suppkey").alias("supp_b"),
            ),
            "l_partkey",
        )
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).alias("common_parts"),
            F.sum("term").alias("ra_scaled"),
        )
    )
    wtop = Window.partitionBy("supp_a").orderBy(
        F.col("ra_scaled").desc(), F.col("supp_b").asc()
    )
    return (
        pairs.select(
            "supp_a", "supp_b", "common_parts", "ra_scaled",
            F.row_number().over(wtop).alias("rk"),
        )
        .filter(F.col("rk") <= RA_TOP_K)
        .select(
            "supp_a",
            "supp_b",
            F.col("rk").cast("int").alias("rk"),
            F.col("common_parts").cast("long").alias("common_parts"),
            F.col("ra_scaled").cast("long").alias("ra_scaled"),
            fquant(
                F.col("ra_scaled").cast("double") / float(RA_SCALE), 9
            ).alias("ra_index"),
        )
    )


GRAPH_RESOURCE_ALLOC_SQL = f"""
WITH edges AS MATERIALIZED (
    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), pdeg AS (
    SELECT l_partkey,
           CAST(floor({float(RA_SCALE)} / CAST(COUNT(*) AS DOUBLE))
                AS BIGINT) AS term
    FROM edges GROUP BY 1
), pairs AS (
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           COUNT(*) AS common_parts,
           SUM(d.term) AS ra_scaled
    FROM edges a
    JOIN edges b ON a.l_partkey = b.l_partkey
    JOIN pdeg d ON d.l_partkey = a.l_partkey
    WHERE a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
), topk AS (
    SELECT supp_a, supp_b, common_parts, ra_scaled,
           ROW_NUMBER() OVER (PARTITION BY supp_a
                              ORDER BY ra_scaled DESC, supp_b ASC) AS rk
    FROM pairs
)
SELECT supp_a, supp_b,
       CAST(rk AS INT) AS rk,
       CAST(common_parts AS BIGINT) AS common_parts,
       CAST(ra_scaled AS BIGINT) AS ra_scaled,
       floor(CAST(ra_scaled AS DOUBLE) / {float(RA_SCALE)}
             * 1000000000.0) / 1000000000.0 AS ra_index
FROM topk WHERE rk <= {RA_TOP_K}
"""


# ---------------------------------------------------------- graph_reciprocity


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the DIRECTED nation trade graph: each lineitem is
    a customer-nation → supplier-nation edge (who buys from whom), and
    per unordered nation pair the key reports both directed weights
    and 2·min(w_ab, w_ba)/(w_ab + w_ba) — 1 when trade is perfectly
    mutual, 0 when one-way. The engine's other graphs (co-order,
    supply) are symmetric by construction; trade is the first
    genuinely directed relation, and reciprocity is THE directed-graph
    health statistic (balanced vs extractive trade).

    Determinism: weights are exact lineitem counts; min/sum are
    integers; one division per pair, floor-quantized.

    Scale: the lineitem⋈orders join shuffles on the orderkey grain
    (both sides keyed — AQE skew-splits hot orders); the three
    dimension attaches broadcast; then ONE map-side-combinable
    collapse onto directed nation pairs (≤ 25² rows) and a pair-level
    regroup. Self-trade (a = b) is excluded — domestic flow is not
    reciprocity."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    directed = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("ck"),
                F.col("n_name").alias("cust_nation"),
            )),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("sk"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("sk"),
        )
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    paired = directed.groupBy(
        F.least("cust_nation", "supp_nation").alias("nation_a"),
        F.greatest("cust_nation", "supp_nation").alias("nation_b"),
    ).agg(
        F.sum(
            F.when(F.col("cust_nation") < F.col("supp_nation"), F.col("w"))
            .otherwise(0)
        ).alias("w_ab"),
        F.sum(
            F.when(F.col("cust_nation") > F.col("supp_nation"), F.col("w"))
            .otherwise(0)
        ).alias("w_ba"),
    )
    return paired.select(
        "nation_a",
        "nation_b",
        F.col("w_ab").cast("long").alias("w_ab"),
        F.col("w_ba").cast("long").alias("w_ba"),
        fquant(
            (2 * F.least("w_ab", "w_ba")).cast("double")
            / (F.col("w_ab") + F.col("w_ba")).cast("double"),
            6,
        ).alias("reciprocity"),
    )


GRAPH_RECIPROCITY_SQL = """
WITH directed AS (
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY 1, 2
)
SELECT least(cust_nation, supp_nation) AS nation_a,
       greatest(cust_nation, supp_nation) AS nation_b,
       CAST(SUM(CASE WHEN cust_nation < supp_nation THEN w ELSE 0 END)
            AS BIGINT) AS w_ab,
       CAST(SUM(CASE WHEN cust_nation > supp_nation THEN w ELSE 0 END)
            AS BIGINT) AS w_ba,
       floor(CAST(2 * least(
                SUM(CASE WHEN cust_nation < supp_nation THEN w ELSE 0 END),
                SUM(CASE WHEN cust_nation > supp_nation THEN w ELSE 0 END))
              AS DOUBLE)
             / CAST(SUM(w) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS reciprocity
FROM directed
GROUP BY 1, 2
"""


QUERIES: dict[str, Query] = {
    "graph_pagerank": Query(
        graph_pagerank, GRAPH_PAGERANK_SQL,
        "deterministic weighted PageRank, 3 unrolled iterations",
        eager="compute",
    ),
    "graph_triangles": Query(
        graph_triangles, GRAPH_TRIANGLES_SQL,
        "triangle enumeration on the nation trade graph", eager="compute"),
    "graph_label_propagation": Query(
        graph_label_propagation, GRAPH_LPA_SQL,
        "weighted label propagation, integer-exact 3 iterations",
        eager="compute"),
    "graph_bfs": Query(
        graph_bfs, GRAPH_BFS_SQL,
        "BFS shortest hops over the co-order part graph (frontier rounds)",
        eager="compute",
    ),
    "graph_degree_dist": Query(
        graph_degree_dist, GRAPH_DEGREE_DIST_SQL,
        "degree histogram of the co-order part graph",
        eager="compute",
    ),
    "graph_jaccard": Query(
        graph_jaccard, GRAPH_JACCARD_SQL,
        "shared-part Jaccard similarity between suppliers",
        eager="compute",
    ),
    "graph_components": Query(
        graph_components, GRAPH_COMPONENTS_SQL,
        "connected components of the strong-trade nation graph",
        eager="compute",
    ),
    "graph_kcore": Query(
        graph_kcore, GRAPH_KCORE_SQL,
        "bounded k-core peeling of the co-order part graph",
        eager="compute",
    ),
    "graph_assortativity": Query(
        graph_assortativity, GRAPH_ASSORTATIVITY_SQL,
        "degree assortativity of the co-order part graph (rational form)",
        eager="compute",
    ),
    "graph_clustering_coeff": Query(
        graph_clustering_coeff, GRAPH_CLUSTERING_COEFF_SQL,
        "per-node clustering coefficient via degree-oriented triangles",
        eager="compute",
    ),
    "graph_modularity": Query(
        graph_modularity, GRAPH_MODULARITY_SQL,
        "Newman modularity of the brand partition (rational form)",
        eager="compute",
    ),
    "graph_resource_alloc": Query(
        graph_resource_alloc, GRAPH_RESOURCE_ALLOC_SQL,
        "resource-allocation link prediction on the supply graph",
        eager="compute",
    ),
    "graph_reciprocity": Query(
        graph_reciprocity, GRAPH_RECIPROCITY_SQL,
        "directed nation trade-graph reciprocity per pair",
    ),
}
