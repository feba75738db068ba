"""Deterministic sampling / split assignment for training-data curation.

Random sampling on a cluster must be a pure function of the row key — not of
partitioning, task retries, or engine RNG — or resumed/backfilled runs see
different corpora. Both operators hash the id with md5 (identical in every
engine, so DuckDB can oracle them bit-for-bit) and derive the decision from
the first 15 hex chars (60 bits, uniform, fits a signed 64-bit int in both
engines).

* ``hash_sample``  — keep ~fraction of rows, stable under reruns.
* ``hash_split``   — assign train/val/test (any named buckets with weights);
  a row's bucket never changes when other rows are added or removed.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DENOM = float(2 ** 60)


def _unit_hash(id_col: Column, salt: str) -> Column:
    """Uniform [0, 1) double from md5(salt:id) — engine-portable."""
    h = F.md5(F.concat_ws(":", F.lit(salt), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(_DENOM)


def hash_sample(df: DataFrame, fraction: float) -> DataFrame:
    return df.filter(_unit_hash(F.col("doc_id"), "sample") < fraction)


def hash_split(df: DataFrame, weights: List[Tuple[str, float]]) -> DataFrame:
    """Adds a ``split`` column. ``weights`` = [(name, w), ...] normalized to
    cumulative thresholds; assignment = first bucket whose cumulative weight
    exceeds the row's unit hash."""
    total = sum(w for _, w in weights)
    u = _unit_hash(F.col("doc_id"), "split")
    expr = None
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w / total
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = weights[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", split)


def domain_cap(df: DataFrame, n: int, salt_buckets: int = 8) -> DataFrame:
    """Keep at most ``n`` rows per domain, best-first — the per-domain cap
    every web-corpus recipe applies so one crawl-heavy host can't dominate
    the training mix (C4/RefinedWeb-style curation; complements the
    corpus-wide ``hash_sample``).

    Domains are ``source``; ordering is (``n_chars`` DESC, ``doc_id``
    ASC) — the id tie-break
    makes the kept set a pure function of the data, so backfills and task
    retries keep identical rows (same contract as ``hash_split``).

    Skew is the 100-TB concern: a plain per-domain ``row_number`` window
    puts EVERY row of the head domain in one task. Instead the cap runs in
    two stages — (1) rank within (domain, xxhash64(id) % salt_buckets) and
    keep n per salted group, bounding any task at ~1/salt_buckets of the
    head domain; (2) re-rank the survivors per domain, now at most
    salt_buckets*n rows each. Stage 2's ranks equal the unsalted global
    ranks because the ordering key is total and stage 1 can only drop rows
    that rank below n within a *subset* of their domain (hence below n in
    the full domain). Returns (doc_id, source, rk).
    """
    from pyspark.sql import Window

    order = [F.desc("n_chars"), F.asc("doc_id")]
    w1 = Window.partitionBy("source", "_salt").orderBy(*order)
    w2 = Window.partitionBy("source").orderBy(*order)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets)))
    stage1 = (salted.withColumn("_rk", F.row_number().over(w1))
              .filter(F.col("_rk") <= n).drop("_rk"))
    return (stage1.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= n)
            .select("doc_id", "source", "rk"))


def dedup_clusters(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Near-duplicate pairs -> clusters -> canonical keeper per cluster.

    The end-to-end dedup decision: connected components over the verified
    pair graph; the cluster representative is the minimum id; singletons
    keep themselves. Returns (doc_id, keep_id, is_dup)."""
    from .components import connected_components

    edges = pairs.select(F.col("id_a").cast("string").alias("src"),
                         F.col("id_b").cast("string").alias("dst"))
    comps = connected_components(edges)
    assign = (ids.select(F.col("doc_id"))
              .join(comps.withColumn("node", F.col("node").cast(
                  ids.schema["doc_id"].dataType)),
                  ids["doc_id"] == F.col("node"), "left")
              .select("doc_id", "component"))
    return assign.select(
        F.col("doc_id"),
        F.coalesce(F.col("component").cast(ids.schema["doc_id"].dataType),
                   F.col("doc_id")).alias("keep_id"),
    ).withColumn("is_dup", (F.col("doc_id") != F.col("keep_id")).cast("int"))
