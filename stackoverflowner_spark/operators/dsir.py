"""DSIR-style data selection via importance resampling.

The published LLM-data-selection recipe (Xie et al. 2023, "Data
Selection for Language Models via Importance Resampling"): represent
every document as hashed n-gram counts, fit two bag-of-buckets
multinomials — one on a small TARGET corpus (the distribution you want
more of), one on the RAW pool — and resample raw documents with Gumbel
top-k on the per-document log-likelihood ratio. This module builds the
integer statistics half over the documents table; nothing here reads
external data — target/raw are caller-supplied DataFrames.

Decomposition by verifiability class (the repo's bitwise-oracle rules):

* ``hashed_bigram_buckets`` / ``dsir_bucket_stats`` — INTEGER sufficient
  statistics (md5-hashed word-bigram counts per doc; per-bucket totals
  with both corpus totals), engine-portable bit-for-bit: the md5 hex
  prefix -> bigint -> mod-B bucket trick is the established cross-engine
  hash (memory: DuckDB `cast('0x'||substr(md5(..),1,15) as bigint)` ==
  Spark `conv(substring(md5(..),1,15),16,10)`); oracled bitwise on the
  strict rotation gate (`dsir_stats`).
* The log-likelihood-ratio scoring and Gumbel top-k resampling that
  consume these statistics are not implemented here: their ``log``
  floats are not IEEE-correctly-rounded across engines, so they could
  only be gated by a numpy replay, and no engine path selects documents.

Scale: one shuffle for per-(doc, bucket) counts, O(total bigrams) — the
gopher/minhash cost class; the stats table is B rows (B ~ thousands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HEX = 15  # md5 hex prefix digits: 16^15 = 2^60 fits a signed long


def _bucket(col, buckets: int):
    return (F.conv(F.substring(F.md5(col), 1, _HEX), 16, 10)
            .cast("long") % buckets)


def hashed_bigram_buckets(df: DataFrame, buckets: int = 4096) -> DataFrame:
    """(id, bucket, c): md5-hashed word-bigram counts per document."""
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(words)
    grams = df.select(
        F.col("doc_id"),
        F.explode(F.transform(
            F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
            lambda w, i: F.concat_ws(" ", w, words[i + 1]))).alias("gram"))
    return (grams.withColumn("bucket", _bucket(F.col("gram"), buckets))
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").cast("long").alias("c")))


def dsir_bucket_stats(target: DataFrame, raw: DataFrame,
                      buckets: int = 4096) -> DataFrame:
    """(bucket, target_c, raw_c): integer per-bucket totals over both
    corpora — the multinomials' sufficient statistics, bitwise
    cross-engine (no floats anywhere)."""
    t = (hashed_bigram_buckets(target, buckets=buckets)
         .groupBy("bucket").agg(F.sum("c").alias("target_c")))
    r = (hashed_bigram_buckets(raw, buckets=buckets)
         .groupBy("bucket").agg(F.sum("c").alias("raw_c")))
    return (t.join(r, "bucket", "full")
            .select("bucket",
                    F.coalesce("target_c", F.lit(0)).cast("long")
                    .alias("target_c"),
                    F.coalesce("raw_c", F.lit(0)).cast("long")
                    .alias("raw_c")))

