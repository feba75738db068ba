"""Triangle counting and BFS distances on plain edge DataFrames.

KG-analytics companions to components/pagerank/hits (SURVEY §2.8 class;
the reference has no graph analytics — engine-beyond-reference surface):
triangle density is the standard cohesion signal for alias-cluster
sanity checks (a canonicalization cluster that is a near-clique is
trustworthy; a star around one hub token is suspect), and BFS distance
from a seed set is the reachability/radius probe for KG QA (how far does
an entity sit from the trusted core?).

Scale notes, in the same discipline as operators/components.py:

* ``triangle_count`` uses the classic degree-ordered orientation
  (each undirected edge points from the (degree, id)-smaller endpoint
  to the larger): every triangle is enumerated EXACTLY once, and the
  wedge join fans out from each node's *oriented out-degree*, which the
  orientation bounds at O(sqrt(E)) even on power-law graphs — the
  skew defense that makes the two-shuffle plan (join on the wedge
  midpoint, then on the closing edge) survive a head-heavy host graph.
  No all-pairs step anywhere.
* ``bfs_distances`` is frontier-at-a-time label propagation: each
  iteration shuffles only the CURRENT frontier's neighborhood, visited
  nodes drop out via an anti-join, and ``localCheckpoint`` truncates
  the iterative lineage (the bounded-plan rule all iterative operators
  here follow). Iterations = graph diameter.
* ``kcore`` is iterative peeling: drop nodes with degree < k, recount,
  repeat to fixpoint. Each iteration aggregates degrees over the
  CURRENT surviving subgraph only (one groupBy + one semi-join), the
  edge set shrinks monotonically, and ``localCheckpoint`` keeps the
  plan bounded. The result (the maximal subgraph with min degree >= k)
  is unique — peeling order cannot change it — so the output is
  deterministic even though the iteration count varies with the graph.
  Shrinking fixpoints are not recursive-CTE-expressible (CTE unions are
  monotone-accumulating), so this sits in the pytest-parity class with
  PageRank/k-means rather than under a SQL oracle.
* ``weighted_sssp`` is Bellman-Ford with an improved-only frontier:
  each iteration relaxes only edges out of nodes whose tentative cost
  just dropped, so late iterations shuffle a shrinking frontier, not
  the whole graph. Integer weights keep every tentative cost exact
  (min over bigints is order-independent), which is what lets the
  result sit under a bitwise recursive-CTE oracle — the float-weight
  variant would be the k-means/PageRank class (pytest-only). The
  ``max_cost`` radius bound is part of the SEMANTICS (bounded-cost
  search, the KG "trusted core neighborhood" probe), and doubles as
  the oracle's recursion bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import checkpoint


def _undirected(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list: (u, v) with u < v, self-loops
    dropped, duplicates collapsed."""
    u = F.least(F.col("src"), F.col("dst"))
    v = F.greatest(F.col("src"), F.col("dst"))
    return (edges.select(u.alias("u"), v.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def triangle_count(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (node, tri): triangles incident to each node
    (nodes in no triangle are absent). Each triangle contributes one
    count to each of its three corners; sum(tri) == 3 * total."""
    und = _undirected(edges).transform(checkpoint)

    deg = (und.select(F.col("u").alias("n"))
           .unionAll(und.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("deg")))

    # orient by (degree, id): a -> b iff (deg_a, a) < (deg_b, b)
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    withdeg = und.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = withdeg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"))

    # wedges a->b, a->c (b before c in orientation rank via a second
    # oriented edge b->c): join out-edges on the shared source, close
    # with the oriented edge (b, c). Exactly-once enumeration.
    e1 = oriented.select(F.col("a"), F.col("b"))
    e2 = oriented.select(F.col("a").alias("a2"), F.col("b").alias("c"))
    wedges = e1.join(e2, e1.a == e2.a2).select("a", "b", "c")
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closing, ["b", "c"])

    corners = (tris.select(F.col("a").alias("node"))
               .unionAll(tris.select(F.col("b").alias("node")))
               .unionAll(tris.select(F.col("c").alias("node"))))
    return corners.groupBy("node").agg(F.count("*").alias("tri"))


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  max_iter: int = 30) -> DataFrame:
    """edges(src, dst) (treated undirected) + seeds(node) ->
    (node, dist): hop distance from the nearest seed; unreachable nodes
    are absent. ``max_iter`` bounds the explored radius."""
    sym = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .unionAll(edges.select(F.col("dst").alias("a"),
                                  F.col("src").alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .transform(checkpoint))

    dist = (seeds.select("node").distinct()
            .withColumn("dist", F.lit(0)).transform(checkpoint))
    frontier = dist.select("node")

    # frontier-emptiness rides an observe() on the checkpoint job (no
    # second action per level) and ``dist`` stays a lazy union of the
    # checkpointed levels — the anti-join reads the same blocks either
    # way, and the per-level union+materialize job disappears
    from pyspark.sql import Observation
    for i in range(1, max_iter + 1):
        obs = Observation()
        nxt = (sym.join(frontier, sym.a == frontier.node)
               .select(F.col("b").alias("node")).distinct()
               .join(dist, "node", "left_anti")
               .withColumn("dist", F.lit(i))
               .observe(obs, F.count(F.lit(1)).alias("n"))
               .transform(checkpoint))
        if int(obs.get["n"]) == 0:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


def kcore(edges: DataFrame, k: int) -> DataFrame:
    """edges(src, dst) (undirected reading) -> (node, deg): the nodes of
    the k-core — the maximal subgraph in which every node has degree
    >= k — with their degree inside the core. Empty when no such
    subgraph exists. The KG "trusted dense core" probe: alias clusters
    whose members survive a 2- or 3-core are mutually corroborated."""
    if k < 1:
        raise ValueError("k must be >= 1")
    und = _undirected(edges).transform(checkpoint)

    for _ in range(100):
        deg = (und.select(F.col("u").alias("node"))
               .unionAll(und.select(F.col("v").alias("node")))
               .groupBy("node").agg(F.count("*").alias("deg")))
        keep = checkpoint(deg.filter(F.col("deg") >= k).select("node"))
        pruned = (und.join(keep.withColumnRenamed("node", "u"), "u",
                           "left_semi")
                  .join(keep.withColumnRenamed("node", "v"), "v",
                        "left_semi")
                  .select("u", "v").transform(checkpoint))
        if pruned.count() == und.count():
            break
        und = pruned

    return (und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node")))
            .groupBy("node").agg(F.count("*").cast("long").alias("deg"))
            .filter(F.col("deg") >= k))


def weighted_sssp(edges: DataFrame, seeds: DataFrame,
                  max_cost: int) -> DataFrame:
    """edges(src, dst, w) (directed, integer w >= 1) + seeds(node) ->
    (node, cost): cheapest path cost from the nearest seed, restricted
    to paths of total cost <= ``max_cost`` (nodes only reachable above
    the bound are absent). Symmetrize the edge list first for the
    undirected reading."""
    es = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                       F.col("w").cast("long").alias("w"))
          .filter((F.col("a") != F.col("b")) & (F.col("w") >= 1))
          .groupBy("a", "b").agg(F.min("w").alias("w"))
          .transform(checkpoint))

    dist = (seeds.select("node").distinct()
            .withColumn("cost", F.lit(0).cast("long")).transform(checkpoint))
    frontier = dist

    # improvement-emptiness rides an observe() on the checkpoint job —
    # no second isEmpty action per relaxation round
    from pyspark.sql import Observation
    for _ in range(100):
        cand = (es.join(frontier, es.a == frontier.node)
                .select(F.col("b").alias("node"),
                        (F.col("cost") + F.col("w")).alias("cost"))
                .filter(F.col("cost") <= max_cost)
                .groupBy("node").agg(F.min("cost").alias("cost")))
        obs = Observation()
        improved = (cand.join(dist.select(F.col("node"),
                                          F.col("cost").alias("_old")),
                              "node", "left")
                    .filter(F.col("_old").isNull()
                            | (F.col("cost") < F.col("_old")))
                    .select("node", "cost")
                    .observe(obs, F.count(F.lit(1)).alias("n"))
                    .transform(checkpoint))
        if int(obs.get["n"]) == 0:
            break
        dist = (dist.join(improved.select("node"), "node", "left_anti")
                .unionByName(improved).transform(checkpoint))
        frontier = improved
    return dist


def lpa_communities(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """edges(src, dst) (undirected reading) -> (node, community):
    synchronous label propagation — the standard lightweight community
    detector between connectivity (components) and density (kcore):
    alias/co-mention clusters denser inside than across.

    Semantics (deterministic by construction): labels start as node ids;
    every iteration ALL nodes simultaneously adopt the label most common
    among their neighbors, ties broken by smallest label; a node keeps
    its label only through its neighbors (isolated nodes cannot appear —
    edges define the node set). Synchronous updates + the (count desc,
    label asc) tie-break make the result a pure function of (edge set,
    max_iter) — no dependence on partitioning or visit order, unlike the
    asynchronous LPA of the literature. The cost is the classic
    bipartite oscillation mode, which ``max_iter`` bounds; the early
    exit fires when an iteration changes nothing.

    Scale: per iteration one shuffle to bring neighbor labels in (join
    on nbr), one (node, community) count agg, and a per-node window for
    the argmax — partitioned BY NODE, so no single-partition stage. The
    iterative lineage is truncated per round (``localCheckpoint``, the
    bounded-plan rule of this module). Label-flip convergence is
    typically << diameter; communities stabilize in a handful of rounds.
    Label-update fixpoints are not recursive-CTE-expressible (the update
    is non-monotone), so this sits in the pytest-parity class with
    kcore/PageRank/k-means.
    """
    from pyspark.sql.window import Window

    und = _undirected(edges).transform(checkpoint)
    both = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
            .unionAll(und.select(F.col("v").alias("node"),
                                 F.col("u").alias("nbr"))))
    labels = (both.select("node").distinct()
              .withColumn("community", F.col("node")).transform(checkpoint))

    win = Window.partitionBy("node").orderBy(F.col("cnt").desc(),
                                             F.col("community").asc())
    for _ in range(max_iter):
        nxt = (both.join(labels.withColumnRenamed("node", "nbr"), "nbr")
               .groupBy("node", "community").agg(F.count("*").alias("cnt"))
               .withColumn("rn", F.row_number().over(win))
               .filter(F.col("rn") == 1)
               .select("node", "community").transform(checkpoint))
        changed = (nxt.join(labels, ["node", "community"], "left_anti")
                   .count())
        labels = nxt
        if changed == 0:
            break
    return labels


def sample_pivots(edges: DataFrame, k: int) -> DataFrame:
    """Deterministic pivot sample for ``betweenness``: the k nodes with
    the smallest (xxhash64(node), node) rank — a uniform-ish, seedless,
    partitioning-independent choice (the hash plays the RNG, the node id
    breaks hash ties), the same backfill-stable hash-order discipline as
    operators/sampling.py. k >= node count degrades to all nodes."""
    nodes = (edges.select(F.col("src").alias("node"))
             .unionAll(edges.select(F.col("dst").alias("node")))
             .filter(F.col("node").isNotNull())
             .distinct())
    return (nodes.orderBy(F.xxhash64("node"), F.col("node"))
            .limit(k).select("node"))


def betweenness(edges: DataFrame, sources: DataFrame = None,
                scale: bool = False) -> DataFrame:
    """Brandes betweenness centrality on the undirected, unweighted
    reading of edges(src, dst) -> (node, bc).

    The last member of this module's centrality family (degree is a
    groupBy; PageRank is operators/pagerank.py; closeness/harmonic
    are operators/hyperball.py): how often a node sits ON the shortest
    paths between others — the broker/bottleneck signal for KG QA
    (an alias cluster whose canonical node has far higher betweenness
    than its members is a hub-and-spoke suspect, the same diagnosis
    triangle_count approaches from density).

    Algorithm (Brandes 2001, source-parallel): for every pivot s a
    forward BFS computes (dist, sigma = #shortest paths from s), then a
    backward level sweep accumulates dependencies
    delta(v) = sum_{w: succ} sigma_v / sigma_w * (1 + delta_w); bc(v)
    sums delta over pivots, halved for the undirected double-count.
    ``sources=None`` runs EXACT betweenness (every node a pivot);
    passing a pivot subset (see ``sample_pivots``) gives the standard
    Brandes-Pich estimator — ``scale=True`` multiplies by V/K to
    unbias it toward the exact value.

    Scale shape: all pivots advance IN ONE JOB per BFS level — the
    frontier key is (s, node), so K pivots cost the same O(diameter)
    job count as one, and every shuffle is keyed on (s, node) (no
    per-source driver loop, no single-partition stage). The backward
    sweep re-joins the per-level frontiers (held as localCheckpointed
    DataFrames, one per level — memory O(sum of frontier sizes) =
    O(K * V) worst case, which is what bounds the pivot batch: at
    10^9-node scale run pivots in batches of ~32 and sum the partial
    bc outputs, the standard source-batching). Dependency sums are
    IEEE doubles under groupBy partial aggregation, so this sits in
    the pytest-parity (tolerance) class with PageRank/k-means, not
    under a bitwise SQL oracle.
    """
    sym = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .unionAll(edges.select(F.col("dst").alias("a"),
                                  F.col("src").alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .transform(checkpoint))

    nodes = sym.select(F.col("a").alias("node")).distinct()
    if sources is None:
        pivots = nodes
    else:
        pivots = (sources.select("node").distinct()
                  .join(nodes, "node", "left_semi"))

    # forward BFS: levels[d] = (s, node, sigma) at hop distance d.
    # The frontier-emptiness check rides an observe() on the SAME job
    # that materializes the level's checkpoint (no second action), and
    # ``visited`` stays a lazy union of the already-checkpointed levels
    # (one union node per level, no per-level materialization job — the
    # anti-join reads the same checkpointed blocks either way).
    from pyspark.sql import Observation
    lvl = (pivots.select(F.col("node").alias("s"),
                         F.col("node"),
                         F.lit(1).cast("long").alias("sigma"))
           .transform(checkpoint))
    levels = [lvl]
    visited = lvl.select("s", "node")
    for _ in range(30):
        obs = Observation()
        nxt = (levels[-1].join(sym, F.col("node") == F.col("a"))
               .select("s", F.col("b").alias("node"), "sigma")
               .groupBy("s", "node").agg(F.sum("sigma").alias("sigma"))
               .join(visited, ["s", "node"], "left_anti")
               .observe(obs, F.count(F.lit(1)).alias("n"))
               .transform(checkpoint))
        if int(obs.get["n"]) == 0:
            break
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("s", "node"))

    # backward sweep: delta at the deepest level is 0; each level pulls
    # (1 + delta_w) / sigma_w from its successors along graph edges,
    # keeping only predecessor nodes (the level-d join enforces
    # dist(v) = dist(w) - 1, Brandes' predecessor condition)
    bc_parts = []
    delta = levels[-1].select(
        "s", "node", "sigma", F.lit(0.0).alias("delta"))
    if len(levels) > 1:
        bc_parts.append(delta.select("node", "delta"))
    for d in range(len(levels) - 2, -1, -1):
        contrib = (delta
                   .join(sym, F.col("node") == F.col("b"))
                   .select("s", F.col("a").alias("node"),
                           ((F.lit(1.0) + F.col("delta")) / F.col("sigma"))
                           .alias("t"))
                   .groupBy("s", "node").agg(F.sum("t").alias("tsum")))
        delta = (levels[d].join(contrib, ["s", "node"], "left")
                 .select("s", "node", "sigma",
                         (F.col("sigma").cast("double")
                          * F.coalesce(F.col("tsum"), F.lit(0.0)))
                         .alias("delta"))
                 .transform(checkpoint))
        if d > 0:  # delta(s, s) is excluded from bc by definition
            bc_parts.append(delta.select("node", "delta"))

    if not bc_parts:
        return nodes.select("node", F.lit(0.0).alias("bc")).limit(0)
    alld = bc_parts[0]
    for p in bc_parts[1:]:
        alld = alld.unionByName(p)
    bc = (alld.groupBy("node")
          .agg((F.sum("delta") / F.lit(2.0)).alias("bc")))
    if scale and sources is not None:
        v_n = nodes.count()
        k_n = pivots.count()
        if k_n:
            bc = bc.select("node", (F.col("bc") * F.lit(v_n / k_n))
                           .alias("bc"))
    return bc


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a community assignment -> one row
    (m, communities, q): the quality score for the partitions
    ``lpa_communities`` (or components/dedup clustering) emit.

    Q = sum_c [ e_c/m - (d_c/(2m))^2 ] over communities c, with m the
    undirected edge count, e_c the edges internal to c and d_c the
    degree sum of c's nodes. Computed EXACTLY: the sum is folded to one
    integer numerator N = sum_c (4*m*e_c - d_c^2) in DECIMAL(38,0) —
    order-independent — and Q = N / (4*m^2) is ONE IEEE division of
    identical integers, so the result is bit-stable across engines and
    partial-agg orders (the repo's exact-arithmetic discipline; sits
    under a strict DuckDB oracle in tests). Nodes absent from
    ``labels`` count as their own singleton community (coalesce to the
    node id).

    Scale shape: two broadcast-or-shuffle joins edge->label (the label
    table is node-sized), one degree agg, two community-keyed aggs —
    all partial-agg friendly, nothing pair-quadratic.
    """
    und = checkpoint(_undirected(edges).withColumn("w", F.lit(1).cast("long")))
    m = (und.agg(F.sum("w")).collect()[0][0] or 0)
    lab = labels.select(F.col("node"), F.col("community"))
    if m == 0:
        from pyspark.sql.types import (LongType, DoubleType, StructField,
                                       StructType)
        spark = und.sparkSession
        return spark.createDataFrame(
            [(0, 0, 0.0)],
            StructType([StructField("m", LongType()),
                        StructField("communities", LongType()),
                        StructField("q", DoubleType())]))

    lu = lab.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = lab.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    tagged = (und.join(lu, "u", "left").join(lv, "v", "left")
              .select(F.coalesce(F.col("cu"), F.col("u")).alias("cu"),
                      F.coalesce(F.col("cv"), F.col("v")).alias("cv"),
                      "w"))
    e_c = (tagged.filter(F.col("cu") == F.col("cv"))
           .groupBy(F.col("cu").alias("community"))
           .agg(F.sum("w").alias("e_in")))

    deg = (und.select(F.col("u").alias("node"), "w")
           .unionAll(und.select(F.col("v").alias("node"), "w"))
           .groupBy("node").agg(F.sum("w").alias("d")))
    d_c = (deg.join(lab, "node", "left")
           .select(F.coalesce(F.col("community"), F.col("node"))
                   .alias("community"), "d")
           .groupBy("community").agg(F.sum("d").alias("d_sum")))

    per = (d_c.join(e_c, "community", "left")
           .select("community",
                   F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
                   "d_sum"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (per.agg(
        F.count("*").cast("long").alias("communities"),
        F.sum(F.lit(4 * m).cast("decimal(38,0)") * dec("e_in")
              - dec("d_sum") * dec("d_sum")).alias("n")))
    return num.select(
        F.lit(m).cast("long").alias("m"),
        "communities",
        (F.col("n").cast("double")
         / F.lit(float(4 * m * m))).alias("q"))


def refine_communities(edges: DataFrame, labels: DataFrame,
                       max_rounds: int = 5) -> DataFrame:
    """Greedy modularity refinement of a community assignment — the
    Louvain local-move phase (Blondel et al. 2008), made deterministic
    and exact: every node simultaneously evaluates moving to each
    neighboring community, the gain comparison runs in EXACT integers,
    and a round of moves is accepted only if the exact global
    modularity numerator strictly increases. Input/output shape matches
    ``lpa_communities`` (node, community); feed it LPA output (or any
    partition) and get a Q-no-worse partition back.

    Exact arithmetic: moving v from community a to b changes Q by
    delta = (e_vb - e_va)/m - [2 d_v (S_b - S_a) + 2 d_v^2] / (4 m^2);
    scaled by 4m^2 this is the INTEGER
    delta' = 4m(e_vb - e_va) - 2 d_v (S_b - S_a + d_v),
    so per-node argmax (tie-break: smallest community id) and the
    global accept test (numerator N = sum_c 4m*e_c - S_c^2, compared
    as integers round over round) are bit-exact — no float anywhere,
    the ``modularity`` discipline extended to the OPTIMIZER. Synchronous
    application means a round can overshoot (the classic simultaneous-
    moves pathology); the exact accept gate makes the sequence of
    ACCEPTED partitions strictly Q-increasing and terminating — on
    rejection the previous labels return unchanged.

    Scale shape per round: one (node, nbr_community) count agg over the
    symmetrized edges (the dominant shuffle, O(E)), community-keyed
    strength sums, a per-node max_by argmax — all partial-agg friendly;
    ``localCheckpoint`` truncates the round lineage.
    """
    und = (_undirected(edges)
           .withColumn("w", F.lit(1).cast("long")).transform(checkpoint))
    m = int(und.agg(F.sum("w")).collect()[0][0] or 0)
    if m == 0:
        return labels.select("node", "community")
    both = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"),
                       "w")
            .unionAll(und.select(F.col("v").alias("node"),
                                 F.col("u").alias("nbr"), "w"))
            .transform(checkpoint))
    deg = both.groupBy("node").agg(F.sum("w").alias("d"))
    nodes = deg.select("node").distinct()
    cur = (nodes.join(labels.select("node", "community"), "node", "left")
           .select("node", F.coalesce(F.col("community"), F.col("node"))
                   .alias("community"))
           .transform(checkpoint))

    def _numerator(lab: DataFrame) -> int:
        lu = lab.select(F.col("node").alias("u"),
                        F.col("community").alias("cu"))
        lv = lab.select(F.col("node").alias("v"),
                        F.col("community").alias("cv"))
        e_c = (und.join(lu, "u").join(lv, "v")
               .filter(F.col("cu") == F.col("cv"))
               .groupBy(F.col("cu").alias("community"))
               .agg(F.sum("w").alias("e_in")))
        s_c = (deg.join(lab, "node")
               .groupBy("community").agg(F.sum("d").alias("s")))
        dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        row = (s_c.join(e_c, "community", "left")
               .select(F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
                       "s")
               .agg(F.sum(F.lit(4 * m).cast("decimal(38,0)")
                          * dec("e_in") - dec("s") * dec("s"))
                    .alias("n")).collect()[0])
        return int(row.n)

    best_n = _numerator(cur)
    for _ in range(max_rounds):
        s_c = (deg.join(cur, "node")
               .groupBy("community").agg(F.sum("d").alias("s")))
        # e_{v,c}: edges from v into each neighboring community c
        evc = (both.join(cur.withColumnRenamed("node", "nbr")
                         .withColumnRenamed("community", "nbr_comm"),
                         "nbr")
               .groupBy("node", "nbr_comm")
               .agg(F.sum("w").alias("e_vc")))
        own = (cur.join(evc, (cur.node == evc.node)
                        & (cur.community == evc.nbr_comm), "left")
               .select(cur.node, cur.community,
                       F.coalesce(F.col("e_vc"), F.lit(0)).alias("e_va")))
        cand = (evc.join(own.withColumnRenamed("node", "n2"),
                         evc.node == F.col("n2"))
                .filter(F.col("nbr_comm") != F.col("community"))
                .join(deg, "node")
                .join(s_c.select(F.col("community").alias("nbr_comm"),
                                 F.col("s").alias("s_b")), "nbr_comm")
                .join(s_c.select(F.col("community").alias("community"),
                                 F.col("s").alias("s_a")), "community")
                .select("node", "nbr_comm",
                        (F.lit(4 * m) * (F.col("e_vc") - F.col("e_va"))
                         - F.lit(2) * F.col("d")
                         * (F.col("s_b") - F.col("s_a") + F.col("d")))
                        .cast("long").alias("gain")))
        # deterministic argmax: (gain desc, community asc) tie-break,
        # node-partitioned window — no single-partition stage
        from pyspark.sql import Window
        w = (Window.partitionBy("node")
             .orderBy(F.col("gain").desc(), F.col("nbr_comm").asc()))
        moves = (cand.filter(F.col("gain") > 0)
                 .withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1)
                 .select("node", F.col("nbr_comm").alias("community")))
        if moves.isEmpty():
            break
        nxt = (cur.join(moves.withColumnRenamed("community", "newc"),
                        "node", "left")
               .select("node", F.coalesce(F.col("newc"),
                                          F.col("community"))
                       .alias("community"))
               .transform(checkpoint))
        n2 = _numerator(nxt)
        if n2 <= best_n:  # synchronous overshoot: reject and stop
            break
        cur, best_n = nxt, n2
    return cur
