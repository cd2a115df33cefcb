"""Graph operators: connected components for dedup clustering.

After candidate-pair generation (MinHash LSH, SimHash, embedding
LSH), a training-data pipeline must COLLAPSE pairs into duplicate
clusters and pick canonical representatives — that is connected
components over the pair graph.

Implementation: iterative min-label propagation with pointer jumping
(label <- label of label each round), the hashed-join formulation of
the classic O(log n)-round CC algorithms (cf. the large-star /
small-star MapReduce scheme). Every step is a plain equi-join +
groupBy min — shuffles on uniformly-hashed node ids, no broadcast of
anything graph-sized, so the plan survives graphs with billions of
edges as long as each round's join does. Rounds are driver-iterated
(this IS an iterative algorithm); each round materializes the label
frame to cut lineage growth.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from protarrow_spark.sources.tables import materialize


def connected_components(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the undirected graph given by
    ``edges``: returns (node, component) where component is the
    MINIMUM node id in the node's component (the canonical-id
    convention every dedup pipeline uses).

    Converges when a full round changes no label; pointer jumping
    (path compression) keeps rounds O(log n) even on long chains.
    """
    und = materialize(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
    )
    # No barrier here: round 1 materializes ``jumped`` anyway.
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        # 1) neighbor minimum: l(x) <- min(l(x), min over neighbors l(y))
        nbr = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # The pre-round label rides along as ``old`` so convergence is
        # a flag on the SAME checkpointed frame (r13 opt): the former
        # separate jumped-vs-labels equi-join re-shuffled both label
        # tables once per round just to ask "did anything change".
        prop = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
        )
        # 2) pointer jumping: l(x) <- l(l(x))
        parent = prop.select(F.col("node").alias("label"), F.col("label").alias("label2"))
        new_label = F.coalesce("label2", "label")
        jumped = materialize(
            prop.join(parent, "label", "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label != F.col("old")).alias("chg"),
            )
        )
        changed = jumped.filter("chg").limit(1).count()
        labels = jumped.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Cluster assignment for EVERY row of ``df``: nodes touching an
    edge get their component's minimum id, everything else is a
    singleton cluster of itself. Output: id, cluster_id."""
    comp = connected_components(edges, src_col, dst_col)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
) -> DataFrame:
    """Per-node triangle counts (plus degree) over an undirected
    graph — the local-clustering / community-density primitive of
    graph-shaped corpus analysis (co-citation density, link-farm
    detection, entity-graph quality scoring).

    Algorithm: the degree-ordered node-iterator (compact-forward).
    Each undirected edge is oriented from the (degree, id)-smaller
    endpoint to the larger; a triangle {a, b, c} with
    (a) < (b) < (c) in that total order is found EXACTLY ONCE as the
    wedge a->b, a->c closed by the edge b->c. The orientation bounds
    every node's forward degree by O(sqrt(m)) on any graph (a node
    with forward degree f has f neighbors of degree >= its own, so
    f^2 <= 2m) — the wedge join fan-out is O(m^1.5) worst case, the
    best exact bound known, instead of the unbounded d^2 of a naive
    neighbor self-join on hub nodes.

    Shape: three equi-joins + one groupBy, all hash-partitioned on
    node/edge keys; nothing graph-sized broadcast or collected, no
    driver iteration. Counts are exact integers (order-invariant), so
    a single-threaded SQL oracle reproduces them bit-for-bit.

    Output: node, degree, triangles (both bigint; degree counts
    distinct undirected neighbors).
    """
    # Materialize the canonical edge list ONCE (pagerank's barrier):
    # deg, the orientation, and the wedge join all reference it, and
    # without the barrier each reference re-plans the upstream edge
    # generation — the plan audit showed 252 exchanges for the
    # co-purchase query before these two checkpoints, 10 after.
    e = materialize(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = materialize(
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    ab, ac = o.alias("ab"), o.alias("ac")
    wedge = ab.join(
        ac,
        (F.col("ab.a") == F.col("ac.a"))
        & (
            (F.col("ab.db") < F.col("ac.db"))
            | ((F.col("ab.db") == F.col("ac.db")) & (F.col("ab.b") < F.col("ac.b")))
        ),
    ).select(F.col("ab.a").alias("a"), F.col("ab.b").alias("b"), F.col("ac.b").alias("c"))
    tri = wedge.join(
        o.select(F.col("a").alias("b"), F.col("b").alias("c")), ["b", "c"]
    )
    tri_nodes = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
    )
    counts = tri_nodes.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    return deg.join(counts, "node", "left").select(
        "node",
        F.col("d").cast("long").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )


def triangle_counts_oracle_sql(edges_sql: str) -> str:
    """DuckDB SQL reproducing ``triangle_counts`` exactly.
    ``edges_sql`` must select columns (src, dst)."""
    return f"""
WITH raw AS ({edges_sql}),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS b,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN dv.d ELSE du.d END AS db
  FROM e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT ab.a AS a, ab.b AS b, ac.b AS c
  FROM o ab
  JOIN o ac ON ab.a = ac.a
           AND (ab.db < ac.db OR (ab.db = ac.db AND ab.b < ac.b))
  JOIN o bc ON bc.a = ab.b AND bc.b = ac.b
),
tn AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
tc AS (SELECT node, COUNT(*) AS triangles FROM tn GROUP BY node)
SELECT deg.node AS node,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(tc.triangles, 0) AS BIGINT) AS triangles
FROM deg LEFT JOIN tc ON tc.node = deg.node
"""


#: PageRank fixed-point scale: ranks are integers in units of 1e-12.
PAGERANK_SCALE = 10**12
PAGERANK_DAMP_NUM = 85  # damping 0.85 as the rational 85/100
PAGERANK_DAMP_DEN = 100


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 3,
) -> DataFrame:
    """PageRank over a directed edge list, in EXACT fixed-point integer
    arithmetic so a single-threaded SQL oracle reproduces every rank
    bit-for-bit (float PageRank is accumulation-order-dependent and
    unverifiable across engines).

    Per iteration: contrib = rank div out_degree (integer division,
    positive operands, identical truncation on every engine);
    rank' = (15 * SCALE) div 100 + (85 * sum(incoming contribs)) div 100.
    Dangling-node mass is dropped (deterministically) as in the
    classic formulation.

    Scale: each iteration is one equi-join of the edge list with the
    rank table (both hash-partitioned on node id — co-partitioned
    across iterations, so AQE reuses the exchange) plus one groupBy
    with map-side partial sums. Nothing graph-sized is broadcast or
    collected; the rounds are unrolled lazily into ONE Catalyst plan
    with no barrier per round (the two barriers below materialize the
    round-invariant edge and node frames only).

    Output: node, rank (bigint, fixed-point 1e-12).
    """
    # Materialize the deduped edge list WITH its out-degree in ONE
    # job: every iteration joins it, and without the barrier Catalyst
    # re-plans the source scan + distinct per reference — at 100 TB
    # the edge list is a written table, which this stands in for.
    # Out-degree rides ON the edge row (one count window over the
    # src-partitioned edges) instead of a separate degree table joined
    # back EVERY iteration (guide §2.4); the former separate
    # distinct-edges checkpoint was a whole extra materialization job
    # for a frame only this one consumed (r13 opt — the distinct now
    # happens inside this job, and `nodes` derives from the result).
    from pyspark.sql import Window as _W

    ed = materialize(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .withColumn("out_deg", F.count(F.lit(1)).over(_W.partitionBy("src")))
    )
    nodes = materialize(
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    base_num = PAGERANK_DAMP_DEN - PAGERANK_DAMP_NUM  # (1 - d) * DEN = 15
    ranks = nodes.select("node", F.lit(PAGERANK_SCALE).cast("long").alias("rank"))
    for _ in range(iterations):
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div out_deg").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("incoming"))
        )
        # (NUM * x) div DEN computed as NUM*(x div DEN) + (NUM*(x mod DEN)) div DEN
        # — algebraically identical for x >= 0 (x = q*DEN + r makes NUM*x div DEN
        # = NUM*q + (NUM*r) div DEN), but the largest intermediate is NUM*(x div DEN)
        # instead of NUM*x, so int64 holds up to ~9.2e6 nodes of total rank mass
        # (x < 2^63 / NUM * DEN) rather than ~1.1e5. Beyond that, lower
        # PAGERANK_SCALE (every power of 10 buys 10x more nodes).
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.expr(
                    f"({base_num} * {PAGERANK_SCALE}L) div {PAGERANK_DAMP_DEN}"
                )
                + F.expr(
                    f"{PAGERANK_DAMP_NUM} * (coalesce(incoming, 0L) div {PAGERANK_DAMP_DEN})"
                    f" + ({PAGERANK_DAMP_NUM} * pmod(coalesce(incoming, 0L), {PAGERANK_DAMP_DEN}))"
                    f" div {PAGERANK_DAMP_DEN}"
                )
            ).cast("long").alias("rank"),
        )
    return ranks


def pagerank_oracle_sql(
    edges_sql: str, iterations: int = 3
) -> str:
    """DuckDB SQL reproducing the identical fixed-point PageRank.
    ``edges_sql`` must select columns (src, dst)."""
    scale, num, den = PAGERANK_SCALE, PAGERANK_DAMP_NUM, PAGERANK_DAMP_DEN
    ctes = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(iterations):
        prev, cur = f"r{i}", f"r{i + 1}"
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS node, SUM(r.rank // d.out_deg) AS incoming
  FROM e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
{cur} AS (
  SELECT n.node,
         CAST((15 * CAST({scale} AS BIGINT)) // {den}
              + ({num} * COALESCE(c.incoming, 0)) // {den} AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank FROM r{iterations}"
    )


#: Link-prediction defaults: wedge centers above this degree are
#: excluded (super-hubs contribute noise wedges quadratically and no
#: predictive signal — the standard practical cap), and the report
#: keeps the top-k candidate pairs.
CN_MAX_DEGREE = 1024
CN_TOP_K = 50


def _wedges(
    edges: DataFrame, src: str, dst: str, max_degree: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared front of the link-prediction operators: returns the
    materialized edge list, each node's true degree (w, d), and the
    shared-neighbor count (node_a, node_b, cn) of every node pair
    with a common neighbor of degree <= ``max_degree``.

    The edge barrier pays for itself: the degree filter, both
    wedge-join sides and the callers' edge/degree consumers otherwise
    each replay the upstream edge builder (82 Exchange refs in the
    co-purchase common-neighbors plan without it).
    """
    edges = materialize(edges)
    und = edges.select(F.col(src).alias("w"), F.col(dst).alias("n")).unionByName(
        edges.select(F.col(dst).alias("w"), F.col(src).alias("n"))
    )
    deg = und.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
    centers = deg.filter(F.col("d") <= max_degree).select("w")
    u = und.join(centers, "w")
    wed = (
        u.alias("a")
        .join(u.alias("b"), "w")
        .filter(F.col("a.n") < F.col("b.n"))
        .groupBy(F.col("a.n").alias("node_a"), F.col("b.n").alias("node_b"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    return edges, deg, wed


def common_neighbor_candidates(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = CN_MAX_DEGREE,
    k: int = CN_TOP_K,
) -> DataFrame:
    """Common-neighbors link prediction (the classic baseline:
    Liben-Nowell & Kleinberg 2003): for every NON-adjacent pair with
    at least one shared neighbor, count the shared neighbors and rank
    — the pairs most likely to be edges next. Input is a canonical
    undirected edge list (src < dst).

    Scale: wedges come from one neighbor-list self-join keyed on the
    CENTER node, so the shuffle moves each adjacency list once; a
    center of degree d fans out d^2/2 wedge pairs, so super-hubs above
    ``max_degree`` are excluded up front (quadratic noise, no signal —
    at 100 TB the cap is what makes the wedge count a constant factor
    of edge count). The candidate anti-join against the edge set and
    the top-k are ordinary equi-join + TakeOrdered. Exact integer
    counts; (cn desc, pair) total order.

    Output: (node_a, node_b, cn) — top-k predicted links.
    """
    edges, _, wed = _wedges(edges, src, dst, max_degree)
    existing = edges.select(
        F.col(src).alias("node_a"), F.col(dst).alias("node_b")
    )
    pred = wed.join(existing, ["node_a", "node_b"], "left_anti")
    return (
        pred.orderBy(F.desc("cn"), F.asc("node_a"), F.asc("node_b"))
        .limit(k)
        .select("node_a", "node_b", F.col("cn").cast("long").alias("cn"))
    )


#: Multi-source BFS defaults: the smallest-id seed set and a fixed
#: hop budget (unrolled — the plan is static, no driver-side
#: convergence check needed for a bounded-radius query).
BFS_N_SEEDS = 5
BFS_MAX_HOPS = 3


def bfs_hops(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_seeds: int = BFS_N_SEEDS,
    max_hops: int = BFS_MAX_HOPS,
) -> DataFrame:
    """Multi-source breadth-first search: minimum hop distance from
    the seed set (the ``n_seeds`` smallest node ids — deterministic)
    to every node within ``max_hops``, over the undirected graph.

    This is the reachability/radius primitive (contamination spread
    from flagged documents, relation closeness in a citation graph,
    k-hop feature neighborhoods). Each hop is one frontier-edges
    equi-join + an anti-join against the visited set — both hash-
    partitioned on node id; the frontier is deduplicated BEFORE the
    join so a node is expanded once per level no matter how many
    paths reach it (path-count explosion is the naive recursive-CTE
    failure mode; level-synchronous BFS with a visited set is the
    scalable form). Nothing graph-sized touches the driver.

    Output: (node, hop) with hop = exact minimum distance, BIGINT.
    """
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    und = materialize(und.distinct())
    seeds = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(n_seeds)
    )
    # No barrier on hop 0: the first level's union materializes it.
    dist = seeds.withColumn("hop", F.lit(0))
    frontier = dist.select("node")
    for i in range(1, max_hops + 1):
        nxt = (
            frontier.withColumnRenamed("node", "u")
            .join(und, "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hop", F.lit(i))
        )
        dist = materialize(dist.unionByName(nxt))
        frontier = dist.filter(F.col("hop") == i).select("node")
    return dist.select("node", F.col("hop").cast("long").alias("hop"))


def bfs_hops_oracle_sql(
    edges_sql: str, n_seeds: int = BFS_N_SEEDS, max_hops: int = BFS_MAX_HOPS
) -> str:
    """DuckDB recursive-CTE oracle for :func:`bfs_hops`. The UNION
    (not UNION ALL) recursion deduplicates (node, hop) rows per
    level, so the walk is bounded by nodes x hops, mirroring the
    level-synchronous visited-set semantics; MIN(hop) collapses the
    per-level rows to the true distance."""
    return f"""
WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
und AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
seeds AS (SELECT DISTINCT u AS node FROM und ORDER BY node LIMIT {n_seeds}),
walk(node, hop) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT und.v, w.hop + 1
  FROM walk w JOIN und ON und.u = w.node
  WHERE w.hop < {max_hops}
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM walk GROUP BY node
"""


#: Neighborhood-Jaccard defaults (same hub cap as common neighbors).
JACCARD_TOP_K = 50


def neighborhood_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = CN_MAX_DEGREE,
    k: int = JACCARD_TOP_K,
) -> DataFrame:
    """Neighborhood Jaccard similarity: for every node pair sharing
    at least one neighbor, |N(a) & N(b)| / |N(a) | N(b)| — the
    degree-normalized sibling of common-neighbors link prediction
    (hubs stop dominating: 3 shared neighbors out of 4 beats 10 out
    of 2000). Wedge generation is the same center-keyed self-join
    with the ``max_degree`` hub cap; true degrees (uncapped) feed the
    union term. The intersection is the exact wedge count; the score
    is ONE IEEE division of exact integers, so ordering is
    engine-identical. Top-k with (score, pair) total order.

    Output: (node_a, node_b, cn, union_deg, jaccard).
    """
    _, deg, wed = _wedges(edges, src, dst, max_degree)
    node_deg = deg.select(F.col("w").alias("node"), F.col("d"))
    scored = (
        wed.join(
            F.broadcast(node_deg.select(F.col("node").alias("node_a"), F.col("d").alias("da"))),
            "node_a",
        )
        .join(
            F.broadcast(node_deg.select(F.col("node").alias("node_b"), F.col("d").alias("db"))),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            F.col("cn").cast("long").alias("cn"),
            (F.col("da") + F.col("db") - F.col("cn")).cast("long").alias("union_deg"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("node_a"), F.asc("node_b")
    ).limit(k)


def neighborhood_jaccard_oracle_sql(
    edges_sql: str, max_degree: int = CN_MAX_DEGREE, k: int = JACCARD_TOP_K
) -> str:
    """DuckDB oracle for :func:`neighborhood_jaccard`."""
    return f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
u AS (SELECT src AS w, dst AS n FROM e UNION ALL SELECT dst, src FROM e),
deg AS (SELECT w, COUNT(*) AS d FROM u GROUP BY w),
uc AS (SELECT u.w, u.n FROM u JOIN deg USING (w) WHERE deg.d <= {max_degree}),
wed AS (
  SELECT a.n AS node_a, b.n AS node_b, COUNT(*) AS cn
  FROM uc a JOIN uc b ON a.w = b.w AND a.n < b.n
  GROUP BY 1, 2
)
SELECT node_a, node_b, CAST(cn AS BIGINT) AS cn,
       CAST(da.d + db.d - cn AS BIGINT) AS union_deg,
       CAST(cn AS DOUBLE) / (da.d + db.d - cn) AS jaccard
FROM wed
JOIN deg da ON da.w = wed.node_a
JOIN deg db ON db.w = wed.node_b
ORDER BY jaccard DESC, node_a, node_b
LIMIT {k}
"""


#: k-core defaults: the classic "dense enough to matter" cut, and a
#: fixed unrolled round budget (peeling removes nodes monotonically,
#: so a round that removes nothing proves convergence — the operator
#: reports that flag rather than iterating to an unbounded fixed
#: point, keeping the plan static).
KCORE_K = 3
KCORE_ROUNDS = 4


def kcore_peel(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < k; what survives is the k-core (the standard
    density backbone — for a dedup/citation graph, the subgraph where
    every member has >= k strong links). ``rounds`` peel passes are
    unrolled into a static plan; ``converged`` reports whether the
    last pass removed nothing (survivor count is monotone
    non-increasing, so count equality IS set equality).

    Returns (node, core_degree, n_core_nodes, converged) for every
    surviving node with at least one surviving edge; ``core_degree``
    is the node's degree within the final survivor-induced subgraph.

    Scale: each round is two semi-joins (endpoint filters) + one
    partial-aggregated degree count — all equi-shuffles on node ids,
    nothing graph-sized broadcasts (the 1-row convergence/count frame
    does). Deeper cores need more rounds: the flag says when you have
    peeled enough.
    """
    # Cut the edge-builder lineage once.
    sym = materialize(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .union(
            edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
        )
    )
    # Peel by SUBTRACTION (r13 opt): each round checkpoints the
    # SURVIVING edge set and drops edges touching only this round's
    # REMOVED nodes (deg < k) — an anti-join against a set that is
    # small once peeling gets going (AQE broadcasts it), where the
    # former formulation re-filtered the FULL original edge list
    # against the whole survivor set with two sort-merge semi-joins
    # every round. Set-identical by induction: edges with both
    # endpoints surviving round r == edges never touching any node
    # removed in rounds 1..r.
    #
    # r14 (VERDICT item 4): each round now COLLECTS its 2-long degree
    # tally (removed/kept node counts — a partial-aggregated 1-row
    # job over the checkpointed edge set) instead of stacking lazy
    # 1-row count frames for the final plan's broadcast builds. The
    # tally is the survivor count the output needs AND the convergence
    # signal: once a round removes nothing the edge set is a fixed
    # point, every later round would re-checkpoint an identical frame
    # and re-count the same survivors (at sf0.1 the 3-core peels to
    # empty by round 2, so rounds 3-4 were pure job overhead), so the
    # loop stops paying for them. ``rounds`` semantics unchanged: the
    # reported n_core_nodes/converged are exactly what executing every
    # round would report (unexecuted rounds leave both tallies at the
    # fixed-point value).
    e = sym
    tallies: list[tuple[int, int]] = []  # (n_removed, n_kept) per round
    for _ in range(rounds):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        row = deg.agg(
            F.sum((F.col("deg") < k).cast("long")).alias("nr"),
            F.sum((F.col("deg") >= k).cast("long")).alias("nk"),
        ).first()
        # Survivor count = the degree test's pass side (NOT the next
        # edge set's endpoints: a node can pass the test and still
        # lose its last edge to removed neighbors this round).
        tallies.append((int(row["nr"] or 0), int(row["nk"] or 0)))
        if tallies[-1][0] == 0:
            break  # fixed point: anti-join would rebuild e unchanged
        removed = deg.filter(F.col("deg") < k).select(F.col("s").alias("node"))
        e = materialize(
            e.join(removed.select(F.col("node").alias("s")), "s", "left_anti")
            .join(removed.select(F.col("node").alias("d")), "d", "left_anti")
        )
    n_last = tallies[-1][1]
    if len(tallies) < rounds:
        # Early fixed point: rounds len(tallies)+1 .. rounds would all
        # tally (0, n_last), so the final two survivor counts agree.
        n_prev = n_last
    elif rounds >= 2:
        n_prev = tallies[-2][1]
    else:
        # rounds == 1: the "previous" count is the initial node count.
        n_prev = sym.select("s").distinct().count()
    fin = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )
    return fin.select(
        "node",
        "core_degree",
        F.lit(n_last).cast("long").alias("n_core_nodes"),
        F.lit(bool(n_prev == n_last)).alias("converged"),
    )


def kcore_oracle_sql(
    edges_sql: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> str:
    """DuckDB oracle for :func:`kcore_peel`: the identical unrolled
    peeling, one CTE pair per round."""
    ctes = [
        f"edges0 AS ({edges_sql})",
        "sym AS (SELECT src AS s, dst AS d FROM edges0"
        " UNION ALL SELECT dst AS s, src AS d FROM edges0)",
        "n0 AS (SELECT DISTINCT s AS node FROM sym)",
    ]
    prev = "n0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS (SELECT e.s AS node, COUNT(*) AS deg FROM sym e"
            f" JOIN {prev} a ON a.node = e.s"
            f" JOIN {prev} b ON b.node = e.d GROUP BY 1)"
        )
        ctes.append(f"n{r} AS (SELECT node FROM d{r} WHERE deg >= {k})")
        prev = f"n{r}"
    ctes.append(
        f"fin AS (SELECT e.s AS node, COUNT(*) AS core_degree FROM sym e"
        f" JOIN n{rounds} a ON a.node = e.s"
        f" JOIN n{rounds} b ON b.node = e.d GROUP BY 1)"
    )
    ctes.append(
        f"meta AS (SELECT (SELECT COUNT(*) FROM n{rounds}) AS n_core_nodes,"
        f" (SELECT COUNT(*) FROM n{rounds - 1})"
        f" = (SELECT COUNT(*) FROM n{rounds}) AS converged)"
    )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        "SELECT f.node, CAST(f.core_degree AS BIGINT) AS core_degree,\n"
        "       CAST(m.n_core_nodes AS BIGINT) AS n_core_nodes, m.converged\n"
        "FROM fin f CROSS JOIN meta m"
    )
