"""Iterative graph analytics over a graph derived from the star
schema — PageRank, the canonical "chained MapReduce jobs" workload
(each iteration was one full MR job with materialized intermediates;
here it is one lazy plan per iteration over an in-memory cached edge
list).

Graph: bipartite customer <-> supplier, an edge wherever a customer's
order has a line from that supplier (distinct pairs), materialized in
BOTH directions so every node has out-degree >= 1 (no dangling-mass
redistribution needed). Node ids are disjoint by parity:
customer -> 2*c_custkey, supplier -> 2*s_suppkey + 1 — deterministic
and identical in both engines.

Scale notes: the edge list is the only large state; it is hash-
partitioned on src once and cached, so every iteration's
contributions join reuses the same partitioning (one shuffle per
iteration for the dst-sum, which is the PageRank lower bound on any
engine). Ranks are vertex-sized (tiny next to edges). The DuckDB
oracle unrolls the same fixed iteration count as chained CTEs —
aggregation inside a recursive CTE member is not portable SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hadoop_based_distributed_batch_processing_system_spark.registry import register
from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
    load_table,
    session_parallelism,
)

_DAMPING = 0.85
_ITERS = 10


def _pagerank_oracle() -> str:
    prev = "pr0"
    iters = []
    for k in range(1, _ITERS + 1):
        iters.append(
            f"""pr{k} AS (
          SELECT n.node,
                 (1 - {_DAMPING}) / t.n_nodes
                   + {_DAMPING} * COALESCE(contrib.c, 0) AS rank
          FROM nodes n CROSS JOIN total t
          LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / d.deg) AS c
            FROM edges e
            JOIN {prev} p ON e.src = p.node
            JOIN deg d ON e.src = d.node
            GROUP BY e.dst
          ) contrib ON contrib.node = n.node
        )"""
        )
        prev = f"pr{k}"
    chain = ",\n        ".join(iters)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS (
          SELECT cnode AS src, snode AS dst FROM pairs
          UNION ALL
          SELECT snode, cnode FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        total AS (SELECT COUNT(*) AS n_nodes FROM nodes),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
        pr0 AS (
          SELECT node, 1.0 / t.n_nodes AS rank FROM nodes CROSS JOIN total t
        ),
        {chain}
        SELECT node, ROUND(rank * 1000, 6) AS rank_permille
        FROM {prev}
        ORDER BY rank_permille DESC, node
        LIMIT 50
    """


_TRIANGLE_SHIP_LO = "1995-01-01"
_TRIANGLE_SHIP_HI = "1996-01-01"

_TRIANGLE_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{_TRIANGLE_SHIP_LO}'
        AND l_shipdate < TIMESTAMP '{_TRIANGLE_SHIP_HI}'
    ),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM pairs e1
      JOIN pairs e2 ON e1.v = e2.u
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT agg.n_nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           agg.n_wedges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           ROUND(3.0 * tri.t / agg.n_wedges, 6) AS clustering_coeff
    FROM agg, tri
"""


@register("triangle_count", oracle=_TRIANGLE_ORACLE, tags=("graph", "triangles"))
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient of the part
    co-purchase graph (parts are adjacent when some order contains
    both). The count uses the degree-oriented wedge algorithm: every
    undirected edge is directed from its (degree, id)-smaller endpoint
    to the larger, wedges are enumerated only at each node's oriented
    out-neighborhood, and a wedge closes iff the oriented edge between
    its two endpoints exists — three equi-joins, never an all-pairs
    product. Orientation bounds per-node wedge fan-out by O(sqrt(m))
    instead of max-degree, which is what keeps the wedge stream
    tractable when the graph has power-law hubs (the classic
    MapReduce-era "count triangles at planet scale" trick). The edge
    list is built once from a self-join of lineitem on l_orderkey —
    per-order line counts are bounded (<= 7 in TPC-H), so edge
    generation is linear in the fact table, not quadratic.

    The graph is scoped to one ship-year (a pushed-down scan
    predicate): co-purchase affinity is a windowed statistic — an
    unbounded-time graph densifies toward a clique as history
    accumulates (every popular part eventually co-occurs with every
    other), which is an analytics bug as much as a cost one. At 100
    TB the window predicate prunes partitions before the scan.

    Scale: the only corpus-sized shuffle is the order self-join; the
    edge/degree/wedge stages shuffle edge- and wedge-sized data keyed
    by node — AQE splits hub skew. Output is a single audit row.
    Oracle counts the same triangles via the orientation-free
    canonical a<b<c triple join (the count is orientation-invariant)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(_TRIANGLE_SHIP_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_TRIANGLE_SHIP_HI).cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .union(pairs.select(F.col("v")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orient each edge from the (degree, id)-smaller endpoint to the
    # larger; carry the head's (degree, id) so wedge endpoints can be
    # compared in the SAME total order without re-joining degrees.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
        )
        .cache()
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (
            (F.col("x.dst_d") < F.col("y.dst_d"))
            | ((F.col("x.dst_d") == F.col("y.dst_d")) & (F.col("x.dst") < F.col("y.dst")))
        ),
    ).select(F.col("x.dst").alias("w_lo"), F.col("y.dst").alias("w_hi"))
    closing = oriented.select(F.col("src").alias("w_lo"), F.col("dst").alias("w_hi"))
    tri = wedges.join(closing, ["w_lo", "w_hi"]).agg(F.count(F.lit(1)).alias("t"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("t").cast("long").alias("n_triangles"),
            F.round(3.0 * F.col("t") / F.col("n_wedges"), 6).alias("clustering_coeff"),
        )
    )


@register("pagerank_bipartite", oracle=_pagerank_oracle(), tags=("graph", "iterative"))
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, {_ITERS} fixed iterations, d={_DAMPING}: rank flows
    customer->supplier->customer along order lines; top-50 nodes by
    final rank. Every node has out-degree >= 1 by construction, so
    mass is conserved without a dangling-node term. Each iteration:
    contributions = ranks join edges (pre-partitioned on src, narrow
    after the first shuffle) -> groupBy dst (THE per-iteration
    shuffle) -> left join back onto the static node list for the
    teleport term. Ranks stay full-precision until the final
    output rounding; rank_permille (x1000) keeps the rounded digits
    informative."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
        .union(pairs.select(F.col("snode"), F.col("cnode")))
        .repartition(session_parallelism(spark), "src")
        .cache()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    n_nodes = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # fold degree into the edge list once: contribution share per edge
    edges_w = edges.join(deg, "src").select("src", "dst", (1.0 / F.col("deg")).alias("share")).cache()

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for i in range(_ITERS):
        contrib = (
            edges_w.join(ranks, edges_w.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("share")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit((1 - _DAMPING) / n_nodes)
                + _DAMPING * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank"),
        )
        # Truncate lineage every few iterations: left lazy, the full
        # 10-iteration join chain compiles into one plan whose
        # analysis/optimization cost grows superlinearly with depth
        # (measured 13.7s → 4.5s at sf0.01), and at real scale a deep
        # iterative lineage eventually overflows the planner outright.
        # localCheckpoint materializes the ~n_nodes-row rank vector on
        # executors — the standard Pregel-style iteration barrier.
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint(eager=True)

    return (
        ranks.select("node", F.round(F.col("rank") * 1000, 6).alias("rank_permille"))
        .orderBy(F.desc("rank_permille"), "node")
        .limit(50)
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
        WITH li AS (
          SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '{_TRIANGLE_SHIP_LO}'
            AND l_shipdate < TIMESTAMP '{_TRIANGLE_SHIP_HI}'
        ),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        deg AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) AS d
          FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
          GROUP BY node
        )
        SELECT d AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               ROUND(CAST(COUNT(*) AS DOUBLE)
                     / SUM(COUNT(*)) OVER (), 6) AS node_frac
        FROM deg GROUP BY d
    """,
    tags=("G3", "graph", "degrees"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — exact degree distribution of the 1995 co-purchase graph
    (count of nodes at each degree + node fraction): the first thing
    to read off any production graph — it decides whether the
    degree-oriented triangle plan, skew salting, or hub-split
    handling is needed at all (heavy tails mean yes). Shares
    triangle_count's edge derivation; the fraction window runs over
    the degree histogram (bounded by max-degree distinct values),
    not the node set.

    Scale: edge build is the bounded per-order pair join; degrees
    are one node-keyed aggregate; the histogram is a second, tiny
    aggregate. Nothing rank-sorts the node set; the unpartitioned
    fraction window sees only the histogram and is allowlisted in
    ``operators/windows.py`` ``UNPARTITIONED_WINDOW_ALLOWED``."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(_TRIANGLE_SHIP_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_TRIANGLE_SHIP_HI).cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .union(pairs.select(F.col("v")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(F.count(F.lit(1)).alias("n_nodes"))
    from pyspark.sql import Window as W

    return hist.select(
        "degree",
        "n_nodes",
        F.round(
            F.col("n_nodes").cast("double") / F.sum("n_nodes").over(W.partitionBy()), 6
        ).alias("node_frac"),
    )


_LP_MIN_COMMON = 2
_LP_TOP = 20


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
        WITH li AS (
          SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '{_TRIANGLE_SHIP_LO}'
            AND l_shipdate < TIMESTAMP '{_TRIANGLE_SHIP_HI}'
        ),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
        wedges AS (
          SELECT e1.u AS a, e2.v AS c, CAST(COUNT(*) AS BIGINT) AS common
          FROM edges e1 JOIN edges e2 ON e1.v = e2.u AND e1.u < e2.v
          GROUP BY e1.u, e2.v
          HAVING COUNT(*) >= {_LP_MIN_COMMON}
        ),
        cand AS (
          SELECT w.a, w.c, w.common
          FROM wedges w
          WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.u = w.a AND p.v = w.c)
        )
        SELECT cand.a AS part_a, cand.c AS part_b, cand.common AS n_common,
               ROUND(CAST(cand.common AS DOUBLE)
                     / (da.d + dc.d - cand.common), 6) AS jaccard
        FROM cand
        JOIN deg da ON da.node = cand.a
        JOIN deg dc ON dc.node = cand.c
        ORDER BY jaccard DESC, part_a, part_b
        LIMIT {_LP_TOP}
    """,
    tags=("G4", "link-prediction"),
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor Jaccard (Liben-Nowell & Kleinberg
    2003): for NON-adjacent part pairs sharing ≥{_LP_MIN_COMMON}
    co-purchase neighbors, score |N(a)∩N(b)| / |N(a)∪N(b)| and rank
    the top-{_LP_TOP} — "parts that should be bundled but never were",
    the recommendation candidate generator on the co-purchase graph.
    Common neighbors come from the wedge equi-join (a 2-path through
    b IS a common neighbor); the union size is deg(a)+deg(b)-common
    — no neighbor-set materialization, no set ops.

    Scale: the wedge join is Σdeg² — the same fan-out triangle_count
    bounds with degree orientation; at power-law scale cap the
    per-node neighbor list (top-k by weight) or sketch neighbor sets
    with MinHash (dedup_minhash_lsh's machinery applied to
    adjacency). Existing-edge exclusion is an anti join on the edge
    key; the top-k is TakeOrderedAndProject."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(_TRIANGLE_SHIP_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_TRIANGLE_SHIP_HI).cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .cache()  # feeds edges, the anti join, and degrees
    )
    edges = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedges = (
        e1.join(e2, (F.col("e1.v") == F.col("e2.u")) & (F.col("e1.u") < F.col("e2.v")))
        .groupBy(F.col("e1.u").alias("a"), F.col("e2.v").alias("c"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= _LP_MIN_COMMON)
    )
    cand = wedges.join(
        pairs, (wedges.a == pairs.u) & (wedges.c == pairs.v), "left_anti"
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("node").alias("c"), F.col("d").alias("dc"))
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(dc), "c")
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            F.col("common").alias("n_common"),
            F.round(
                F.col("common").cast("double") / (F.col("da") + F.col("dc") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "part_a", "part_b")
        .limit(_LP_TOP)
    )


_BFS_HOPS = 3
_BFS_SEED_NATION = 0


def _bfs_oracle() -> str:
    """Unrolled BFS relaxations (exact min-hop for distance <= k)."""
    prev = "h0"
    steps = []
    for k in range(1, _BFS_HOPS + 1):
        steps.append(
            f"""h{k} AS (
          SELECT node, MIN(hops) AS hops FROM (
            SELECT node, hops FROM {prev}
            UNION ALL
            SELECT e.dst AS node, p.hops + 1 AS hops
            FROM edges e JOIN {prev} p ON e.src = p.node
          ) GROUP BY node
        )"""
        )
        prev = f"h{k}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS (
          SELECT cnode AS src, snode AS dst FROM pairs
          UNION ALL
          SELECT snode, cnode FROM pairs
        ),
        h0 AS (
          SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0 AS hops
          FROM supplier WHERE s_nationkey = {_BFS_SEED_NATION}
        ),
        {chain}
        SELECT node, CAST(hops AS INT) AS hops,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type
        FROM {prev}
    """


@register(
    "graph_bfs_hops",
    oracle=_bfs_oracle(),
    tags=("G5", "graph", "bfs", "traversal"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — multi-source BFS over the customer–supplier transaction
    graph: exact minimum hop distance (≤ {_BFS_HOPS}) from the
    nation-{_BFS_SEED_NATION} suppliers to every reachable node — the
    blast-radius / influence-propagation traversal that completes the
    graph family (components = connectivity, pagerank = importance,
    triangles = cohesion, BFS = REACH). Supply-chain reading: which
    customers and suppliers are 1, 2, 3 transaction-hops away from a
    compromised supplier cohort.

    This is the Pregel iteration shape expressed relationally: each
    round relaxes the frontier through ONE edges⋈labels equi-join +
    a map-side-combining MIN aggregate, exactly the
    `dedup_connected_components` loop with min-hop in place of
    min-label. {_BFS_HOPS} unrolled rounds give the exact ≤-k-hop
    distances (BFS relaxation is monotone); the oracle unrolls the
    identical CTE chain — pure integer arithmetic end-to-end, no
    floats anywhere. Scale: labels are vertex-sized, edges shuffle
    on src each round (pre-partition edges once by src to make every
    round's join co-located; AQE splits hub skew); a deeper-horizon
    variant checkpoints the label frame per round like the
    components loop."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")).unionAll(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    )
    labels = (
        supplier.filter(F.col("s_nationkey") == _BFS_SEED_NATION)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    for _ in range(_BFS_HOPS):
        relaxed = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
        )
        # labels is referenced TWICE per round (relaxation join +
        # union), so uncached the final plan holds 2^hops copies of
        # the whole frontier chain and recomputes each. Caching the
        # vertex-sized frame per round (the LPA discipline; bounded,
        # ContextCleaner-reclaimed) measured 2.3 s → 0.30 s at sf0.1.
        labels = (
            labels.unionAll(relaxed).groupBy("node").agg(F.min("hops").alias("hops")).cache()
        )
    return labels.select(
        "node",
        F.col("hops").cast("int").alias("hops"),
        F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier").alias("node_type"),
    )


_KCORE_K = 48
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    """Unrolled peel rounds (deg → removals → alive/edges filter),
    the same fixed-round chained-CTE device as the pagerank/BFS
    oracles — aggregation inside a recursive member is not portable
    SQL, and a FIXED round count keeps engine and oracle identical
    even before the fixpoint. Every CTE is MATERIALIZED: DuckDB
    inlines plain CTEs per reference, and with edges{{r}} referencing
    the previous level ~3× the inlined tree grows 3^rounds — at 6
    rounds that is thousands of lineitem re-scans (measured: fd
    exhaustion before any result). Materialization makes the chain
    linear, which is also what the Spark side's per-round
    localCheckpoint does."""
    steps = []
    prev_alive, prev_edges = "nodes", "edges0"
    rms = []
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(
            f"""deg{r} AS MATERIALIZED (
          SELECT src AS node, COUNT(*) AS d FROM {prev_edges} GROUP BY src
        ),
        rm{r} AS MATERIALIZED (
          SELECT a.node FROM {prev_alive} a
          LEFT JOIN deg{r} d ON d.node = a.node
          WHERE COALESCE(d.d, 0) < {_KCORE_K}
        ),
        alive{r} AS MATERIALIZED (
          SELECT a.node FROM {prev_alive} a
          WHERE NOT EXISTS (SELECT 1 FROM rm{r} x WHERE x.node = a.node)
        ),
        edges{r} AS MATERIALIZED (
          SELECT e.src, e.dst FROM {prev_edges} e
          WHERE NOT EXISTS (SELECT 1 FROM rm{r} x WHERE x.node = e.src)
            AND NOT EXISTS (SELECT 1 FROM rm{r} x WHERE x.node = e.dst)
        )"""
        )
        rms.append(f"SELECT node, {r} AS peel_round FROM rm{r}")
        prev_alive, prev_edges = f"alive{r}", f"edges{r}"
    chain = ",\n        ".join(steps)
    labeled = "\n          UNION ALL ".join(
        rms + [f"SELECT node, 0 AS peel_round FROM {prev_alive}"]
    )
    return f"""
        WITH pairs AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges0 AS MATERIALIZED (
          SELECT cnode AS src, snode AS dst FROM pairs
          UNION ALL
          SELECT snode, cnode FROM pairs
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges0),
        {chain}
        SELECT node,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
               CAST(peel_round AS INT) AS peel_round,
               peel_round = 0 AS in_core
        FROM ({labeled})
    """


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("G6", "graph", "kcore", "iterative"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — k-core peeling (Seidman 1983 / the distributed peel of
    Montresor et al.): iteratively delete every vertex whose CURRENT
    degree is < k={_KCORE_K}; what survives is the k-core, and the
    round at which a vertex falls out (its peel layer, the "onion"
    decomposition) grades how deeply it is embedded — the graph
    family's density rung (components = connectivity, pagerank =
    importance, triangles = cohesion, BFS = reach, k-core =
    EMBEDDEDNESS). Supply-chain reading: which customers/suppliers
    sit in the densely-cross-trading core vs drop out once their
    thin counterparties are pruned.

    Deterministic contract: EXACTLY {_KCORE_ROUNDS} peel rounds (a
    fixed-round peel is identical in both engines whether or not the
    fixpoint has been reached; at the test scales it converges in
    ≤4 rounds — the property test asserts the last round removes
    nothing). Peeling is simultaneous per round (all deg<k vertices
    leave together), the parallel-peel semantics every distributed
    k-core uses.

    Scale per round: ONE map-side-combining degree aggregate + two
    anti equi-joins filtering edges on the (vertex-sized, usually
    broadcastable) removal set; labels accumulate vertex-sized.
    Each round's edge frame is localCheckpoint-truncated — the
    entity_resolution/components discipline that keeps round R's
    plan from re-running rounds 1..R-1."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")).unionAll(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    ).localCheckpoint()
    alive = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    peeled = None
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
        removed = (
            alive.join(deg, "node", "left")
            .filter(F.coalesce(F.col("d"), F.lit(0)) < _KCORE_K)
            .select("node")
            .localCheckpoint()
        )
        labeled = removed.withColumn("peel_round", F.lit(r))
        peeled = labeled if peeled is None else peeled.unionAll(labeled)
        # alive stays checkpointed per round even though its lineage
        # would be a single linear chain with removed checkpointed
        # (only multi-reference frames explode the plan k^rounds — see
        # BASELINE.md's kcore DNF note): measured round 9, skipping it
        # RE-EXECUTES the r-deep anti-join chain inside every later
        # removed_r evaluation — ~21 extra stage launches vs 6 saved
        # checkpoint jobs, net −0.5 s at sf0.1.
        alive = alive.join(removed, "node", "left_anti").localCheckpoint()
        if r < _KCORE_ROUNDS:
            # the final round's edge frame has no consumer — skip its
            # materialization (−1 job)
            edges = (
                edges.join(removed.withColumnRenamed("node", "src"), "src", "left_anti")
                .join(removed.withColumnRenamed("node", "dst"), "dst", "left_anti")
                .localCheckpoint()
            )
    out = peeled.unionAll(alive.withColumn("peel_round", F.lit(0)))
    return out.select(
        "node",
        F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier").alias("node_type"),
        F.col("peel_round").cast("int").alias("peel_round"),
        (F.col("peel_round") == 0).alias("in_core"),
    )


_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """Synchronous label propagation unrolled as chained MATERIALIZED
    CTEs (the pagerank/BFS/k-core device): per round, a vote table
    (neighbor labels + the node's own), an exact count, and a
    ROW_NUMBER argmax with the deterministic (count DESC, label ASC)
    tie-break."""
    steps = []
    prev = "lab0"
    for r in range(1, _LPA_ROUNDS + 1):
        steps.append(
            f"""votes{r} AS (
          SELECT e.dst AS node, l.label FROM edges0 e JOIN {prev} l ON l.node = e.src
          UNION ALL
          SELECT node, label FROM {prev}
        ),
        cnt{r} AS MATERIALIZED (
          SELECT node, label, COUNT(*) AS c FROM votes{r} GROUP BY 1, 2
        ),
        lab{r} AS MATERIALIZED (
          SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
            FROM cnt{r}) WHERE rn = 1
        )"""
        )
        prev = f"lab{r}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH li AS (
          SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '{_TRIANGLE_SHIP_LO}'
            AND l_shipdate < TIMESTAMP '{_TRIANGLE_SHIP_HI}'
        ),
        pairs AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges0 AS MATERIALIZED (
          SELECT u AS src, v AS dst FROM pairs UNION ALL SELECT v, u FROM pairs
        ),
        lab0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges0),
        {chain}
        SELECT CAST(label AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(node) AS BIGINT) AS min_node
        FROM {prev}
        GROUP BY label
    """


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("G7", "graph", "communities", "lpa", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — COMMUNITY DETECTION by synchronous label propagation
    (Raghavan et al. 2007), the graph family's sixth rung
    (components = connectivity, pagerank = importance, triangles =
    cohesion, BFS = reach, k-core = embeddedness, LPA = COMMUNITY):
    every node starts as its own label; each round every node adopts
    the most frequent label among its neighbors-plus-itself (the
    self-vote damps oscillation), ties broken by MIN label — a total,
    engine-portable order, which with a FIXED {_LPA_ROUNDS} rounds
    makes the whole algorithm deterministic (async/random-order LPA
    is not; the synchronous min-tiebreak variant is the one every
    distributed implementation ships). Graph: the same one-ship-year
    part co-purchase graph as ``triangle_count`` — sparse
    (order-local cliques, <= 7 lines per order), so labels travel at
    most {_LPA_ROUNDS} hops and genuine small communities survive
    (the dense customer-supplier bipartite graph degenerates to its
    two sides under any LPA — measured, and why this operator runs
    on the co-purchase graph).

    Scale per round: one equi-join of the edge list with the
    vertex-sized label frame (shuffle on the join key), one exact
    (node, label) count with map-side partial aggregation, and one
    per-node argmax whose rank window stands ALONE on its spec — so
    Catalyst plans WindowGroupLimit (map-side partial top-1;
    audit-enforced in tests/test_plans.py). Label frames are
    VERTEX-sized and cached per round (compute-once for their two
    consumers; ContextCleaner reclaims them when the plan is
    dropped) — no corpus-sized state ever accumulates, and no
    driver-side collect exists at all: the model state IS
    distributed, unlike the k-means/BPE bounded-collect loops."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TRIANGLE_SHIP_LO) & (F.col("l_shipdate") < _TRIANGLE_SHIP_HI)
    ).select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    edges = (
        pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .cache()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _r in range(_LPA_ROUNDS):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .unionAll(labels)
        )
        cnt = votes.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .cache()
        )
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").cast("long").alias("min_node"),
    ).select(F.col("label").cast("long").alias("community"), "n_members", "min_node")


_HITS_ROUNDS = 6
_HITS_TOP = 25


def _hits_oracle() -> str:
    """HITS unrolled as chained MATERIALIZED CTEs: per round one
    authority aggregate (sum of in-neighbor hub scores) and one hub
    aggregate (sum of out-neighbor authority scores); no per-round
    normalization (direction is scale-invariant; see operator
    docstring), one L1 normalization at the end."""
    steps = []
    prev_h = "h0"
    for r in range(1, _HITS_ROUNDS + 1):
        steps.append(
            f"""a{r} AS MATERIALIZED (
          SELECT p.s AS node, SUM(h.score) AS score
          FROM pairs p JOIN {prev_h} h ON p.c = h.node GROUP BY p.s
        ),
        h{r} AS MATERIALIZED (
          SELECT p.c AS node, SUM(a.score) AS score
          FROM pairs p JOIN a{r} a ON p.s = a.node GROUP BY p.c
        )"""
        )
        prev_h = f"h{r}"
    chain = ",\n        ".join(steps)
    last = _HITS_ROUNDS
    return f"""
        WITH pairs AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        h0 AS MATERIALIZED (SELECT DISTINCT c AS node, 1.0 AS score FROM pairs),
        {chain},
        atot AS (SELECT SUM(score) AS t FROM a{last}),
        htot AS (SELECT SUM(score) AS t FROM h{last})
        SELECT kind, node, score_permille FROM (
          SELECT 'authority' AS kind, CAST(a.node AS BIGINT) AS node,
                 ROUND(1000 * a.score / atot.t, 6) AS score_permille
          FROM a{last} a CROSS JOIN atot
          ORDER BY score_permille DESC, node LIMIT {_HITS_TOP}
        )
        UNION ALL
        SELECT kind, node, score_permille FROM (
          SELECT 'hub' AS kind, CAST(h.node AS BIGINT) AS node,
                 ROUND(1000 * h.score / htot.t, 6) AS score_permille
          FROM h{last} h CROSS JOIN htot
          ORDER BY score_permille DESC, node LIMIT {_HITS_TOP}
        )
    """


@register(
    "graph_hits",
    oracle=_hits_oracle(),
    tags=("G8", "graph", "hits", "iterative"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — HITS hubs & authorities (Kleinberg 1999, public paper;
    re-derived over the order graph), the graph family's seventh
    rung: on the directed customer→supplier purchase graph (distinct
    (o_custkey, l_suppkey) pairs through orders⋈lineitem), a round
    sets every supplier's AUTHORITY to the sum of its buyers' hub
    scores, then every customer's HUB to the sum of its suppliers'
    authority scores — {_HITS_ROUNDS} fixed rounds, top {_HITS_TOP}
    per side by L1-normalized permille score.

    NO per-round normalization: HITS direction is scale-invariant
    (normalizing is only needed for the limit, not any finite round),
    so skipping it removes {_HITS_ROUNDS}×2 driver-visible scalar
    joins; raw magnitudes grow like (avg degree)^{2 * _HITS_ROUNDS}
    — ≤ ~1e48 even at SF1000, far inside double range — and one L1
    normalization at the end yields the same rounded permilles. The
    two sides live in separate frames keyed by their own ids (no
    node-id doubling needed — roles never mix), matching the oracle's
    unrolled-CTE chain; floats follow the pagerank discipline
    (plain double sums, ROUND 6dp at the very end, rounded-value
    ordering so the LIMIT cut is engine-deterministic).

    Scale per round: two equi-joins of the edge list with a
    vertex-sized score frame + two map-side-combining sum aggregates
    — shuffles on the natural keys only. Each join carries a
    ``shuffle_hash`` hint on the SCORE side: without it AQE sees the
    sf0.1 edge list under the 10 MB broadcast threshold and builds a
    fresh edge-list broadcast per round per side (2×{_HITS_ROUNDS}
    driver-side builds — OOMs the shared 1 GiB local JVM, and at real
    scale the edge list is never broadcastable anyway), while the
    hinted form shuffles both sides by the join key and hashes only
    the per-partition slice of the VERTEX frame — the side that grows
    slowest — which is the plan that survives 100×. Final
    top-{_HITS_TOP} is
    orderBy+limit → TakeOrderedAndProject (per-partition heap, no
    global sort); the two 1-row L1 totals ride a broadcast scalar
    join (allowlisted)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .cache()
    )
    hub = pairs.select(F.col("c").alias("node")).distinct().withColumn("score", F.lit(1.0))
    for _r in range(_HITS_ROUNDS):
        # shuffle_hash hint on the score side: see docstring (Scale).
        auth = (
            pairs.join(hub.hint("shuffle_hash"), pairs.c == hub.node)
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("score").alias("score"))
        )
        hub = (
            pairs.join(auth.hint("shuffle_hash"), pairs.s == auth.node)
            .groupBy(F.col("c").alias("node"))
            .agg(F.sum("score").alias("score"))
        )
    auth = auth.cache()  # final frames feed both the total and the top-k
    hub = hub.cache()

    def _side(frame: DataFrame, kind: str) -> DataFrame:
        tot = frame.agg(F.sum("score").alias("t"))
        return (
            frame.crossJoin(F.broadcast(tot))
            .select(
                F.lit(kind).alias("kind"),
                F.col("node").cast("long").alias("node"),
                F.round(F.lit(1000) * F.col("score") / F.col("t"), 6).alias("score_permille"),
            )
            .orderBy(F.desc("score_permille"), F.asc("node"))
            .limit(_HITS_TOP)
        )

    return _side(auth, "authority").unionAll(_side(hub, "hub"))


_SSSP_ROUNDS = 4
_SSSP_SEED_NATION = 0


def _sssp_oracle() -> str:
    """Unrolled Bellman-Ford relaxations (exact min-cost within
    <= k edges) — the BFS oracle chain with a per-edge integer
    weight in place of the constant hop. MATERIALIZED: d{r} is
    referenced twice per level (carry + relax), so inlined CTEs
    would re-derive the whole prefix 2^rounds times."""
    prev = "d0"
    steps = []
    for k in range(1, _SSSP_ROUNDS + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
          SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, p.dist + e.w AS dist
            FROM edges e JOIN {prev} p ON e.src = p.node
          ) GROUP BY node
        )"""
        )
        prev = f"d{k}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS MATERIALIZED (
          SELECT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode,
                 MIN(1 + datediff('day', o.o_orderdate, l.l_shipdate)) AS w
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY 1, 2
        ),
        edges AS MATERIALIZED (
          SELECT cnode AS src, snode AS dst, w FROM pairs
          UNION ALL
          SELECT snode, cnode, w FROM pairs
        ),
        d0 AS (
          SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0 AS dist
          FROM supplier WHERE s_nationkey = {_SSSP_SEED_NATION}
        ),
        {chain}
        SELECT node, CAST(dist AS BIGINT) AS dist,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type
        FROM {prev}
    """


@register(
    "graph_sssp_weighted",
    oracle=_sssp_oracle(),
    tags=("G9", "graph", "sssp", "bellman-ford", "iterative"),
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 — weighted single-source shortest paths by distributed
    Bellman-Ford (fixed {_SSSP_ROUNDS}-round relaxation; public
    algorithm, re-derived over the order graph): the WEIGHTED twin of
    ``graph_bfs_hops``. Edges are the customer↔supplier transaction
    pairs; each edge costs ``1 + min ship delay in days`` over the
    pair's lineitems (MIN-aggregated in the same groupBy that
    dedups the pairs — no extra pass), so the result reads as the
    FASTEST total relay latency from the nation-{_SSSP_SEED_NATION}
    supplier cohort to every node within {_SSSP_ROUNDS} edges —
    supply-chain latency radius, not hop radius. Integer weights and
    integer distances end-to-end: no floats anywhere, nothing to
    round.

    Each round relaxes through ONE edges⋈dists equi-join + a
    map-side-combining MIN aggregate — the exact BFS/components
    Pregel shape with ``dist + w`` in place of ``hops + 1``
    (Bellman-Ford relaxation is monotone, so round r holds the exact
    minimum over paths of ≤ r edges). The dist frame is referenced
    twice per round (carry + relax), so each round caches the
    vertex-sized frame — the BFS discipline; bounded,
    ContextCleaner-reclaimed. Scale: edges shuffle on src each
    round (pre-partition once by src for co-located rounds); dists
    stay vertex-sized; weights ride the edge list — no extra state.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .agg((F.lit(1) + F.min(F.datediff("l_shipdate", "o_orderdate"))).alias("w"))
    )
    edges = pairs.select(
        F.col("cnode").alias("src"), F.col("snode").alias("dst"), "w"
    ).unionAll(pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"), "w"))
    dists = (
        supplier.filter(F.col("s_nationkey") == _SSSP_SEED_NATION)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for _ in range(_SSSP_ROUNDS):
        relaxed = edges.join(dists, edges.src == dists.node).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        # dists is referenced twice per round (carry + relax): cache
        # the vertex-sized frame per round, the graph_bfs_hops
        # discipline (uncached, the lazy plan doubles per round).
        dists = (
            dists.unionAll(relaxed).groupBy("node").agg(F.min("dist").alias("dist")).cache()
        )
    return dists.select(
        "node",
        F.col("dist").cast("long").alias("dist"),
        F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier").alias("node_type"),
    )


_CC2_MAX_ROUNDS = 16


@register(
    "graph_cc_twophase",
    oracle=f"""
        WITH RECURSIVE
        li AS (
          SELECT l_orderkey, l_partkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '{_TRIANGLE_SHIP_LO}'
            AND l_shipdate < TIMESTAMP '{_TRIANGLE_SHIP_HI}'
        ),
        pairs AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS MATERIALIZED (
          SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
        ),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, reach.r FROM edges e, reach WHERE e.v = reach.u
        )
        SELECT CAST(u AS BIGINT) AS node,
               CAST(MIN(r) AS BIGINT) AS component,
               (u = MIN(r)) AS is_center
        FROM reach GROUP BY u
    """,
    tags=("G1'", "graph", "components", "two-phase", "iterative"),
)
def graph_cc_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1' — CONNECTED COMPONENTS by alternating LARGE-STAR /
    SMALL-STAR (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14): the planet-scale CC algorithm, converging
    in O(log² n) rounds on ANY graph — the algorithmic upgrade over
    min-label propagation (``dedup_connected_components``), which
    needs DIAMETER rounds and the co-purchase graph's giant component
    is exactly where that bites. Each step computes every node's
    neighborhood minimum m = min(N(u) ∪ {{u}}) with one aggregate,
    then rewires: large-star points every STRICTLY LARGER neighbor at
    m (one equi-join + filter), small-star points every smaller
    neighbor and u itself at m. Edges stay canonically (child >
    parent), so the terminal state is a star forest whose centers are
    the component minima. Graph: the one-ship-year part co-purchase
    graph (same scope as ``triangle_count``/``graph_label_propagation``
    — 42 true components at sf0.01, one giant).

    Scale per step: ONE groupBy on the symmetric adjacency (map-side
    combining to a vertex-sized min frame) and ONE vertex-keyed
    equi-join — no corpus-sized state beyond the edge list itself,
    which SHRINKS toward n-1 star edges as rounds proceed. Per-round
    ``localCheckpoint`` truncates lineage (the k-core discipline —
    each round references the previous edge set twice, so the lazy
    plan would grow ~2^rounds); convergence is ONE signed-multiset
    difference aggregate per alternation (a limit-1 isEmpty probe) and
    a hard {_CC2_MAX_ROUNDS}-round cap raises loudly rather than
    returning an unconverged labeling. The DuckDB oracle computes the
    same components as a recursive-CTE transitive closure with MIN
    labels — hash-checked per node."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _TRIANGLE_SHIP_LO)
            & (F.col("l_shipdate") < _TRIANGLE_SHIP_HI)
        )
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    # canonical (child > parent) edge set
    E = pairs.select(F.col("v").alias("a"), F.col("u").alias("b")).distinct().localCheckpoint(
        eager=True
    )

    for _r in range(_CC2_MAX_ROUNDS):
        e_old = E
        for step in ("large", "small"):
            adj = E.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
                E.select(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            mfr = adj.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
            joined = adj.join(mfr, "u")
            if step == "large":
                new = joined.filter(F.col("v") > F.col("u")).select(
                    F.col("v").alias("a"), F.col("m").alias("b")
                )
            else:
                new = (
                    joined.filter((F.col("v") < F.col("u")) & (F.col("v") != F.col("m")))
                    .select(F.col("v").alias("a"), F.col("m").alias("b"))
                    .unionAll(
                        mfr.filter(F.col("u") != F.col("m")).select(
                            F.col("u").alias("a"), F.col("m").alias("b")
                        )
                    )
                )
            E = new.distinct().localCheckpoint(eager=True)
        # ONE convergence job per alternation (ADVICE r10: count +
        # count + exceptAll.count was up to 3 driver-blocking jobs):
        # both edge sets are distinct, so set equality ⟺ the signed
        # per-key multiplicity sum never deviates from 0 — a single
        # aggregate over the union, probed with limit-1 isEmpty.
        diff = (
            E.withColumn("_s", F.lit(1))
            .unionAll(e_old.withColumn("_s", F.lit(-1)))
            .groupBy("a", "b")
            .agg(F.sum("_s").alias("s"))
            .filter(F.col("s") != 0)
        )
        if diff.isEmpty():
            break
    else:
        raise RuntimeError(
            f"graph_cc_twophase: no convergence in {_CC2_MAX_ROUNDS} alternations "
            "(should be O(log^2 n) — graph or algorithm regression)"
        )

    children = E.select(F.col("a").alias("node"), F.col("b").alias("component"))
    centers = E.select(F.col("b").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return children.unionAll(centers).distinct().select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
        (F.col("node") == F.col("component")).alias("is_center"),
    )


from hadoop_based_distributed_batch_processing_system_spark.registry import interpolate_docstrings

interpolate_docstrings(globals())
