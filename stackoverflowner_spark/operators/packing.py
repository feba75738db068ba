"""Context-window chunking and sequence packing — the two length-shaping
operators an LLM-pretraining pipeline runs between curation and batching.

Chunking (``chunk_documents``): split each document into fixed-size token
windows with a stride (overlap = window - stride), the standard way long
documents become training sequences. Pure column expressions — split,
``sequence`` for the start offsets, ``slice`` + ``array_join`` per chunk —
so it is JVM-columnar end to end and the explode multiplies rows by
ceil(len/stride), never bytes by more than the overlap factor.

Packing (``pack_greedy``): assign consecutive documents to fixed
token-budget bins (sequence packing: concatenating short documents into
one context window recovers the padding waste, ~leveling throughput).
Exact bin-packing is NP-hard and inherently sequential; the scalable
contract here is deterministic streaming packing WITHIN hash partitions:

    part = md5-derived partition id (engine-portable, backfill-stable)
    within part (ordered by doc_id): bin = floor(exclusive-prefix-sum of
    token counts / budget)

Each partition packs independently and in parallel — the window runs per
partition key, NO single-partition exchange (the r02 scale flag). A bin
may overflow the budget by at most one document's length (the documented
trade of streaming packing; oversize documents should be chunked first).
Everything is integer arithmetic over md5 — both operators replay
bitwise in DuckDB, and both are driver-contract entries.

Reference parity note: the reference trains on pre-sized sentence files;
length shaping at corpus scale is engine-beyond-reference surface
(SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token count as ``n_tokens`` (split keeps empty strings —
    same convention both engines share)."""
    return docs.withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " ")))


def chunk_documents(docs: DataFrame, window: int, stride: int) -> DataFrame:
    """(key, chunk_idx, chunk_len, chunk_hash) for every stride-spaced
    window of whitespace tokens. chunk_idx counts from 0; the final
    chunk(s) may be shorter than ``window``; a chunk starts at every
    stride multiple < n_tokens, so content never silently drops."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    exploded = (docs.select(
        F.col("doc_id"), toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_idx", "start")))
    chunk = F.slice(F.col("__toks"), F.col("start") + 1, window)
    return exploded.select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"))


def pack_greedy(docs: DataFrame, budget: int, n_parts: int = 64) -> DataFrame:
    """(key, part, bin, n_tokens): deterministic parallel sequence packing.

    part = first 8 md5-hex chars of the key, mod n_parts (engine-portable,
    stable under backfill — a document's bin never depends on rows outside
    its partition). Within a partition, consecutive docs (ordered by key)
    share a bin until the token budget is crossed.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    d = with_token_count(docs).select("doc_id", "n_tokens")
    part = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                   16, 10).cast("long") % n_parts)
    d = d.withColumn("part", part)
    w = (Window.partitionBy("part").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("n_tokens").over(w) - F.col("n_tokens")  # exclusive prefix
    return d.select(
        "doc_id", "part",
        F.floor(cum / budget).cast("long").alias("bin"),
        F.col("n_tokens").cast("long").alias("n_tokens"))
