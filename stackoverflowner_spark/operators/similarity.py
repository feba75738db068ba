"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — exact baseline. Dot products as built-in
  higher-order functions (``zip_with`` + ``aggregate``), entirely JVM-side;
  the query side is broadcast so the scan is one pass over the corpus.
* LSH-bucketed ANN — deterministic random-hyperplane signatures; candidate
  generation touches only colliding buckets, the scale path when the corpus
  side is 10^9+ vectors.
* IVF-style variant — coarse quantization by nearest seed centroid, probe
  the closest partitions only.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernel.ctc import hashed_embedding


def _norm_col(vec_col):
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _dot_col(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k: broadcast queries x corpus scan -> window rank.

    ``queries(q_id, embedding)``; returns (q_id, vec_id, cosine, rank<=k).
    """
    q = queries.select("q_id", F.col("embedding").alias("q_vec"))
    c = corpus.select("vec_id", F.col("embedding").alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "cosine",
            F.round(
                _dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.greatest(_norm_col(F.col("q_vec")), F.lit(1e-12))
                   * F.greatest(_norm_col(F.col("c_vec")), F.lit(1e-12))), 4))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int = 16) -> List[List[float]]:
    """Deterministic random hyperplanes: hashed embeddings of fixed seeds."""
    return [
        [float(x) for x in hashed_embedding([f"lsh-plane-{i}"], dim=dim)[0]]
        for i in range(n_planes)
    ]


def lsh_signature_col(vec_col, planes: List[List[float]]):
    bits = [
        F.when(_dot_col(vec_col, F.array(*[F.lit(v) for v in p])) >= 0, F.lit("1")
               ).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def banded_signatures(df: DataFrame, planes: List[List[float]], bands: int,
                      rows_per_band: int, id_col: str, vec_col: str) -> DataFrame:
    """One row per (vector, band): band signature = the band's bit slice.

    Multi-band OR-amplification: a pair is a candidate if ANY band matches,
    so a near-neighbor differing in one bit of one band is still found via
    the other bands (the single-band variant this replaces had a recall
    cliff — one flipped bit made a true neighbor invisible)."""
    sig = lsh_signature_col(F.col(vec_col), planes)
    band_sigs = F.array(*[
        F.substring(sig, b * rows_per_band + 1, rows_per_band)
        for b in range(bands)
    ])
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(band_sigs).alias("band", "band_sig"))


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                 bands: int = 4, rows_per_band: int = 3) -> DataFrame:
    """Approximate top-k: exact rank within the union of the query's band
    buckets (b bands x r rows, OR-amplified).

    Scale shape: corpus side shuffles O(corpus * bands) fixed-width rows;
    queries are broadcast; candidate volume is sum over buckets of
    |bucket_c| * |bucket_q| — never corpus x queries."""
    planes = hyperplanes(dim, bands * rows_per_band)
    c = banded_signatures(
        corpus.select("vec_id", F.col("embedding").alias("c_vec")),
        planes, bands, rows_per_band, "vec_id", "c_vec")
    q = banded_signatures(
        queries.select("q_id", F.col("embedding").alias("q_vec")),
        planes, bands, rows_per_band, "q_id", "q_vec")
    cand = (
        c.join(F.broadcast(q), ["band", "band_sig"])
        .dropDuplicates(["q_id", "vec_id"])
    )
    scored = cand.withColumn(
        "cosine",
        F.round(
            _dot_col(F.col("q_vec"), F.col("c_vec"))
            / (F.greatest(_norm_col(F.col("q_vec")), F.lit(1e-12))
               * F.greatest(_norm_col(F.col("c_vec")), F.lit(1e-12))), 4))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine", "rank")
    )


def ivf_centroids(dim: int, n_centroids: int = 8) -> List[List[float]]:
    """Deterministic seed centroids (md5-hashed, so identical everywhere)."""
    return [
        [float(x) for x in hashed_embedding([f"ivf-centroid-{i}"], dim=dim)[0]]
        for i in range(n_centroids)
    ]


def _centroid_scores(vec_col, cents: List[List[float]]):
    return [
        (_dot_col(vec_col, F.array(*[F.lit(v) for v in c]))
         / F.greatest(_norm_col(vec_col), F.lit(1e-12))).alias(f"s{i}")
        for i, c in enumerate(cents)
    ]


def _nearest_col(n_centroids: int):
    """argmax over the s0..s{k-1} score columns; lowest index wins ties."""
    best = F.greatest(*[F.col(f"s{i}") for i in range(n_centroids)])
    assign = F.lit(-1)
    for i in reversed(range(n_centroids)):
        assign = F.when(F.col(f"s{i}") == best, F.lit(i)).otherwise(assign)
    return assign


def ivf_assignments(corpus: DataFrame, dim: int,
                    n_centroids: int = 8) -> DataFrame:
    """Coarse IVF partitioning: assign each vector to its nearest
    ``ivf_centroids`` seed (argmax cosine; lowest index wins ties)."""
    cents = ivf_centroids(dim, n_centroids)
    df = corpus.select("vec_id", "embedding",
                       *_centroid_scores(F.col("embedding"), cents))
    return df.select("vec_id", "embedding",
                     _nearest_col(len(cents)).alias("centroid"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_centroids: int = 8, nprobe: int = 3) -> DataFrame:
    """IVF search: score only corpus vectors whose centroid is among the
    query's ``nprobe`` nearest centroids.

    Scale shape: the corpus is pre-partitioned by centroid (one pass, no
    pairwise work); each query touches nprobe/n_centroids of the corpus.
    At 10^9+ vectors the assignment would be written out partitioned by
    ``centroid`` so probes prune partitions at scan time."""
    cents = ivf_centroids(dim, n_centroids)
    assigned = ivf_assignments(corpus, dim, n_centroids)

    q = queries.select("q_id", F.col("embedding").alias("q_vec"),
                       *_centroid_scores(F.col("embedding"), cents))
    scores_arr = F.array(*[
        F.struct((-F.col(f"s{i}")).alias("neg_s"), F.lit(i).alias("c"))
        for i in range(n_centroids)
    ])  # sort on (-score, idx): best score first, lowest index wins ties
    probes = F.slice(F.array_sort(scores_arr), 1, nprobe)
    q_probed = q.select(
        "q_id", "q_vec",
        F.explode(F.transform(probes, lambda p: p["c"])).alias("centroid"))

    scored = (
        assigned.join(F.broadcast(q_probed), "centroid")
        .withColumn(
            "cosine",
            F.round(
                _dot_col(F.col("q_vec"), F.col("embedding"))
                / (F.greatest(_norm_col(F.col("q_vec")), F.lit(1e-12))
                   * F.greatest(_norm_col(F.col("embedding")),
                                F.lit(1e-12))), 4))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine", "rank")
    )
