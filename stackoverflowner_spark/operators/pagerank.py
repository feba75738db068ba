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


def entity_pagerank(triples: DataFrame, iterations: int = 20) -> DataFrame:
    """Importance over the KG's entity-to-entity structure: alias_of and
    instance_of triples form the edge list (subj -> obj), mentioned_in is
    page evidence and is excluded (urls would dominate the mass)."""
    edges = (triples.filter(F.col("pred").isin("alias_of", "instance_of"))
             .select("subj", "obj")
             .withColumnRenamed("subj", "src").withColumnRenamed("obj", "dst"))
    return pagerank(edges, iterations=iterations)
