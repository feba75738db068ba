"""PageRank on a plain edges DataFrame — entity importance over the
materialized KG.

The canonical iterative graph computation the canonicalized triple table
invites (which canonical entities anchor the graph; crawl-frontier
prioritization on the host graph is the same algorithm). GraphFrames-style
but dependency-free, like ``operators/components.py``.

Per iteration, everything is declarative: one join of the rank frontier to
the (pre-partitioned, persisted) edge list and one groupBy(dst). The edges
— the big side — are repartitioned on ``src`` ONCE up front and never
shuffle again: each iteration moves only frontier-sized data (the rank
vector to meet the edges, the per-dst contributions to aggregate), i.e.
two O(nodes)-row shuffles and zero O(edges)-row shuffles per step.
``localCheckpoint`` every iteration truncates the lineage chain (the
iterative-DataFrame pitfall at scale). Dangling-node mass (pages with no
out-links — very real in a crawl graph) is collected as ONE scalar per
iteration and redistributed uniformly, so total mass stays 1 and ranks are
comparable across graphs.

Convention: ranks are a probability distribution (sum = 1), damping 0.85,
uniform teleport. Not driver-oracled: per-iteration float sums are
partial-aggregation-order dependent, so cross-engine bitwise replay is
impossible in principle (same reason as k-means, SURVEY §2.9); instead the
gates compare against a dense numpy power-iteration reference at 1e-9
total-variation on random graphs, analytic closed forms on star/cycle
graphs, and mass conservation per iteration
(tests/test_pagerank.py).

Reference parity note: the reference has no graph analytics; this is
engine-beyond-reference surface complementing connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import checkpoint


def pagerank(edges: DataFrame, iterations: int = 20, damping: float = 0.85,
             partitions: int | None = None) -> DataFrame:
    """edges(src, dst) -> (node, rank), rank summing to 1.

    Multi-edges are collapsed (an edge list distinct on (src, dst));
    self-loops count like any edge. ``iterations`` fixed-point steps —
    power iteration converges geometrically at rate ``damping``, so 20
    steps ≈ 3e-2 worst-case residual and ~1e-9 on shallow entity graphs.
    """
    spark = edges.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    e = (edges.select("src", "dst").distinct()
         .repartition(p, "src").persist())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().transform(checkpoint))
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).transform(checkpoint)
    for _ in range(iterations):
        # out-degree rides the (src-partitioned) edge side so the frontier
        # join stays the iteration's single shuffle of the frontier
        contribs = (e.join(deg, "src")
                    .join(ranks, F.col("src") == F.col("node"))
                    .select("dst", (F.col("rank") / F.col("deg"))
                            .alias("w"))
                    .groupBy("dst").agg(F.sum("w").alias("contrib")))
        # dangling mass: rank held by nodes with no out-edges
        dangling = (ranks.join(deg, ranks.node == deg.src, "left_anti")
                    .agg(F.sum("rank")).first()[0] or 0.0)
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (nodes.join(contribs, nodes.node == contribs.dst, "left")
                 .select("node",
                         (F.lit(base)
                          + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                          ).alias("rank"))
                 .transform(checkpoint))
    e.unpersist()
    return ranks


def hits(edges: DataFrame, iterations: int = 20,
         partitions: int | None = None) -> DataFrame:
    """Kleinberg's HITS on edges(src, dst) -> (node, hub, authority),
    both L2-normalized. The web-graph companion to :func:`pagerank`:
    hubs are link directories, authorities the pages they agree on —
    on the ``operators/linkgraph.py`` host graph this separates
    aggregator hosts from cited hosts, which one rank column cannot.

    Recurrence (matched exactly by the numpy gate in
    tests/test_pagerank.py): h starts all-ones; per iteration
    a = A^T h then L2-normalize, h = A a then L2-normalize. Multi-edges
    collapse; nodes outside an update's support get 0.

    Scale shape: HITS alternates grouping keys (authority groups by dst,
    hub by src), so ONE src-partitioned edge copy would reshuffle the
    edges every half-step. Instead the distinct edge list is persisted
    TWICE — partitioned by src and by dst — and each half-step joins its
    frontier against the colocated copy and aggregates with map-side
    combine: per iteration only frontier-sized data moves, zero
    O(edges)-row shuffles, at the documented price of 2x edge storage.
    ``localCheckpoint`` per half-step truncates lineage; each L2 norm is
    one scalar to the driver (same class as pagerank's dangling mass).
    Float iteration is partial-agg-order dependent, hence pytest-gated
    vs dense numpy, never driver-hashed (same class as k-means)."""
    spark = edges.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    e0 = edges.select("src", "dst").distinct()
    e_src = e0.repartition(p, "src").persist()
    e_dst = e0.repartition(p, "dst").persist()
    nodes = (e_src.select(F.col("src").alias("node"))
             .union(e_src.select(F.col("dst").alias("node")))
             .distinct().transform(checkpoint))
    h = nodes.withColumn("hub", F.lit(1.0)).transform(checkpoint)
    a = nodes.withColumn("authority", F.lit(0.0)).transform(checkpoint)
    for _ in range(iterations):
        a_raw = (e_src.join(h, e_src.src == h.node)
                 .groupBy("dst").agg(F.sum("hub").alias("raw")))
        na = a_raw.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))))\
            .first()[0] or 0.0
        if na == 0.0:
            break
        a = (nodes.join(a_raw, nodes.node == a_raw.dst, "left")
             .select("node", (F.coalesce("raw", F.lit(0.0)) / F.lit(na))
                     .alias("authority"))
             .transform(checkpoint))
        h_raw = (e_dst.join(a, e_dst.dst == a.node)
                 .groupBy("src").agg(F.sum("authority").alias("raw")))
        nh = h_raw.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))))\
            .first()[0] or 0.0
        if nh == 0.0:
            break
        h = (nodes.join(h_raw, nodes.node == h_raw.src, "left")
             .select("node", (F.coalesce("raw", F.lit(0.0)) / F.lit(nh))
                     .alias("hub"))
             .transform(checkpoint))
    e_src.unpersist()
    e_dst.unpersist()
    return h.join(a, "node").select("node", "hub", "authority")


def entity_pagerank(triples: DataFrame, iterations: int = 20,
                    damping: float = 0.85) -> DataFrame:
    """Importance over the KG's entity-to-entity structure: alias_of and
    instance_of triples form the edge list (subj -> obj), mentioned_in is
    page evidence and is excluded (urls would dominate the mass)."""
    edges = (triples.filter(F.col("pred").isin("alias_of", "instance_of"))
             .select("subj", "obj")
             .withColumnRenamed("subj", "src").withColumnRenamed("obj", "dst"))
    return pagerank(edges, iterations=iterations, damping=damping)
