"""Benchmark decontamination for training-data pipelines.

Flags training documents that share any word n-gram with an
evaluation/benchmark set — the standard leakage guard every public LLM
data pipeline runs before training (GPT-3 appendix C, Gopher/Llama data
cards use 8-13 token overlap). Not a reference-repo operator; part of
this engine's training-data surface alongside operators/dedup.py.

Normalization: lowercase, whitespace split, strip leading/trailing
non-alphanumerics per token, drop empties. All of it is JVM column
expressions (split/transform/filter/slice/array_join) — no Python in
either the benchmark or the corpus path.

Scale shape at 100 TB:
* the benchmark side is eval-set sized (thousands of docs) -> its
  distinct-gram set is built once and broadcast; never shuffled.
* the corpus side explodes ~L grams per doc but feeds them straight into
  a BroadcastHashJoin — the exploded stream is never exchanged. Only the
  HITS (a vanishing fraction) reach the per-doc aggregate, and the final
  hit-count join back onto the corpus broadcasts again (hit docs are
  rare). Net: one corpus scan, zero corpus-sized shuffle.
* gram strings stay raw (not hashed) so the operator is bitwise
  oracle-checkable in DuckDB; at true 100-TB scale the broadcast build
  side could xxhash64 the grams to cut the hash-table width, which
  changes no semantics because the corpus side would hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def norm_tokens(text_col="text"):
    """Lowercased whitespace tokens, stripped of leading/trailing
    non-alphanumerics, empties dropped. Pure column expression."""
    toks = F.transform(
        F.split(F.lower(F.col(text_col) if isinstance(text_col, str)
                        else text_col), r"\s+"),
        lambda x: F.regexp_replace(x, "^[^a-z0-9]+|[^a-z0-9]+$", ""))
    return F.filter(toks, lambda x: x != "")


def ngrams(toks, n: int):
    """Array of space-joined word n-grams of a token array (empty when the
    doc is shorter than n)."""
    idx = F.when(F.size(toks) >= n,
                 F.sequence(F.lit(1), F.size(toks) - (n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def benchmark_grams(bench: DataFrame, n: int = 8) -> DataFrame:
    """Distinct n-grams of the benchmark set: one column ``gram``. Small
    (eval-set sized) — the caller broadcasts it."""
    return (bench
            .select(F.explode(ngrams(norm_tokens(), n)).alias("gram"))
            .distinct())


def with_contamination(docs: DataFrame, bench: DataFrame,
                       n: int = 8) -> DataFrame:
    """Per-document contamination counts against the benchmark set.

    Returns ``docs``' id column plus:
      total_ngrams  — grams the doc contributes (length-normalized docs
                      shorter than n contribute 0 and can't be flagged)
      hit_ngrams    — DISTINCT benchmark grams the doc shares
      contaminated  — hit_ngrams > 0
    """
    bg = F.broadcast(benchmark_grams(bench, n=n))
    toks = norm_tokens()
    hits = (docs.select(F.col("doc_id"),
                        F.explode(ngrams(toks, n)).alias("gram"))
            .join(bg, "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("hit_ngrams")))
    # total_ngrams is just max(0, n_tokens - (n-1)) — counting does not
    # need the gram strings, so this branch skips building them (the
    # string-building scan otherwise ran twice, once per branch)
    n_toks = F.size(toks)
    total = F.when(n_toks >= n, n_toks - (n - 1)).otherwise(F.lit(0))
    return (docs
            .select(F.col("doc_id"), total.cast("long")
                    .alias("total_ngrams"))
            .join(F.broadcast(hits), "doc_id", "left")
            .withColumn("hit_ngrams",
                        F.coalesce(F.col("hit_ngrams"), F.lit(0)).cast("long"))
            .withColumn("contaminated", F.col("hit_ngrams") > 0))
