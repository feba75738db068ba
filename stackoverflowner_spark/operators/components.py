"""Connected components by iterative min-label propagation on DataFrames.

North-rule canonicalization operator (SURVEY.md §2.8): GraphFrames-style
label propagation on a plain ``edges(src, dst)`` DataFrame — no GraphFrames
dependency. Each iteration: every node adopts the minimum label in its closed
neighborhood; converged when no label changes. ``localCheckpoint`` per
iteration truncates the lineage chain so plans stay bounded on long chains
(the classic iterative-DataFrame pitfall at scale).

Cost model: each iteration is one shuffle (groupBy node). Diameter-bounded:
ring of n nodes needs O(n) iterations; real alias graphs are shallow
(diameter ~2-3), so 5-10 iterations cover 10^12-scale dictionaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 50,
                         checkpoint_every: int = 1) -> DataFrame:
    """edges(src string, dst string) -> (node string, component string).

    Component id = lexicographically smallest node id in the component.
    """
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    # checkpoint sym FIRST and derive the initial labels from the
    # checkpointed edges: the reverse order executed the caller's upstream
    # DAG twice (labels' checkpoint rebuilt the pre-checkpoint sym), which
    # doubles the cost of an expensive edge producer (e.g. the curation
    # minhash/LSH/jaccard chain)
    sym = sym.localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node"))
        .union(sym.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    for i in range(max_iter):
        # the node's own row rides through the same aggregation carrying its
        # previous label, so convergence detection needs no extra join — the
        # changed-row probe runs on the just-checkpointed result (r01 spent
        # 2 extra jobs per iteration on a join + limit(1).count()).
        neighbor_labels = (
            sym.join(labels, sym.b == labels.node, "inner")
            .select(F.col("a").alias("node"), "label", F.lit(0).alias("is_self"))
        )
        merged = (
            neighbor_labels.union(
                labels.select("node", "label", F.lit(1).alias("is_self")))
            .groupBy("node")
            .agg(F.min("label").alias("label"),
                 F.max(F.when(F.col("is_self") == 1, F.col("label")))
                 .alias("old_label"))
        )
        if (i + 1) % checkpoint_every == 0:
            merged = merged.localCheckpoint()
        changed = (merged.filter(F.col("label") != F.col("old_label"))
                   .limit(1).count())
        labels = merged.select("node", "label")
        if changed == 0:
            break
    else:
        # never return silently-wrong components: a graph whose diameter
        # exceeds max_iter has not converged (alias graphs are shallow, so
        # hitting this means the input is not the graph the caller thinks)
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} "
            f"iterations — raise max_iter for high-diameter graphs")
    return labels.select("node", F.col("label").alias("component"))
