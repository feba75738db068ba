"""Exact repeated-substring detection — the ExactSubstr member of the
dedup suite (Lee et al. 2021, "Deduplicating Training Data Makes Language
Models Better": drop every substring that occurs verbatim more than once
in the corpus, canonical length 50 tokens).

The paper's single-node tool builds one suffix array over the whole
corpus; that structure has no distributed analogue worth fighting for.
The Spark-first restatement hashes every stride-spaced n-token window
(stride=1 == every position, the exact semantics), counts window-hash
occurrences corpus-wide, and merges each document's duplicated windows
into maximal token spans with a gaps-and-islands window pass:

    windows:  posexplode over ``sequence`` starts — rows = total tokens
              (at stride 1), the same O(corpus tokens) the suffix array
              pays, as one explode + one shuffle on the 16-byte hash
    dup set:  groupBy(window_hash) count >= min_count (within-document
              repeats count, matching ExactSubstr)
    spans:    per-document ordered window over ONLY the duplicated
              windows (output-sized, not corpus-sized): a window opens a
              new span when its start clears every earlier window's end

Two scale knobs, with different honesty levels:

* ``stride`` cuts the exploded rows and the shuffle by s, but detection
  is then guaranteed ONLY for occurrences whose start positions are
  congruent mod s (notably whole-document duplicates, which always both
  start at 0) — two misaligned grids can sample different substrings of
  the same run and never hash-collide. Exact semantics is stride=1.
* ``winnowed_fingerprints`` is the principled reduction (winnowing,
  Schleimer/Wilkerson/Aiken SIGMOD'03): per document, keep only the
  minimal hash in every window of w consecutive window-hashes. Selection
  is row-local (array expressions — no extra shuffle, and only the
  selected ~2/(w+1) fraction ever explodes), and the winnowing theorem
  gives an alignment-FREE guarantee: any duplicated run of length
  >= n + w - 1 shares at least one fingerprint, wherever its occurrences
  sit. That makes it the candidate generator at 100 TB, with
  ``repeated_spans`` at stride 1 as the exact verifier over candidate
  documents — the same candidates->verify shape as the MinHash/SimHash
  stages of this suite.

Everything downstream of md5 is integer arithmetic, so the exact
operator replays bitwise in DuckDB (driver entry ``substring_dedup``).

Reference parity note: the reference dedups nothing at corpus level;
this is engine-beyond-reference surface (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def window_hashes(docs: DataFrame, n: int, stride: int = 1) -> DataFrame:
    """(key, start, whash) for every full stride-spaced n-token window of
    whitespace tokens. Documents shorter than n emit nothing (a partial
    window cannot equal a full one elsewhere, so it cannot duplicate)."""
    if n <= 0 or stride <= 0:
        raise ValueError("n and stride must be positive")
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    starts = F.when(n_toks >= n,
                    F.sequence(F.lit(0), n_toks - n, F.lit(stride))
                    ).otherwise(F.array().cast("array<int>"))
    exploded = (docs.select(F.col("doc_id"), toks.alias("__toks"),
                            F.explode(starts).alias("start")))
    win = F.slice(F.col("__toks"), F.col("start") + 1, n)
    return exploded.select(
        "doc_id", F.col("start").cast("long").alias("start"),
        F.md5(F.array_join(win, " ")).alias("whash"))


def repeated_spans(docs: DataFrame, n: int, stride: int = 1,
                   min_count: int = 2) -> DataFrame:
    """Per-document merged duplicated-span stats:

    (key, dup_windows, dup_spans, dup_tokens) — window count, maximal-span
    count after overlap merge, and the total token length of those spans.
    Documents with no duplicated window are absent (join the result back
    to the corpus for a keep/scrub decision; absence == clean).
    """
    w = window_hashes(docs, n, stride)
    # corpus-wide occurrence count as ONE count-over-partition window
    # instead of groupBy + self-join: the former dup-set join computed the
    # exploded md5 window table TWICE (aggregate side + probe side) and
    # shuffled both; this shuffles the table once on whash and filters in
    # place — same rows out (guide §2.4: remove shuffles outright)
    hits = (w.withColumn("__cnt", F.count("*").over(
                Window.partitionBy("whash")))
            .filter(F.col("__cnt") >= min_count)
            .select("doc_id", "start"))
    prev_end = F.max(F.col("start") + n).over(
        Window.partitionBy("doc_id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1))
    marked = hits.select(
        "doc_id", "start",
        F.when(F.col("start") > F.coalesce(prev_end, F.lit(-1)), 1)
        .otherwise(0).alias("new_span"))
    span_id = F.sum("new_span").over(
        Window.partitionBy("doc_id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0))
    spans = (marked.select("doc_id", "start", span_id.alias("span"))
             .groupBy("doc_id", "span")
             .agg(F.count("*").alias("nw"),
                  (F.max("start") + n - F.min("start")).alias("span_len")))
    return (spans.groupBy("doc_id")
            .agg(F.sum("nw").cast("long").alias("dup_windows"),
                 F.count("*").cast("long").alias("dup_spans"),
                 F.sum("span_len").cast("long").alias("dup_tokens")))


def winnowed_fingerprints(docs: DataFrame, n: int, w: int) -> DataFrame:
    """(key, fp): winnowing fingerprint selection (Schleimer/Wilkerson/
    Aiken SIGMOD'03). Per document, every n-token window is hashed
    row-locally (one ``transform`` — no explode yet) and the minimal hash
    of each w-consecutive-hash window is selected; only the ~2/(w+1)
    distinct selected fingerprints leave the row. Winnowing theorem: two
    documents sharing a verbatim token run of length >= n + w - 1 share
    at least one fingerprint, regardless of where the run sits in either
    document. Documents with at least one window but fewer than w always
    contribute their global minimum (the guarantee degenerates gracefully
    for short documents)."""
    if n <= 0 or w <= 0:
        raise ValueError("n and w must be positive")
    toks = F.split(F.col("text"), " ")
    m = F.size(toks) - n + 1
    hashes = F.transform(
        F.sequence(F.lit(0), m - 1),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, n), " ")))
    empty = F.array().cast("array<string>")
    # the when() guard keeps sequence() from seeing a negative bound
    # (Spark's sequence would flip the step sign, not return empty)
    d = docs.select(F.col("doc_id"),
                    F.when(m > 0, hashes).otherwise(empty).alias("__h"))
    h = F.col("__h")
    mm = F.size(h)
    fps = (F.when(mm <= 0, empty)
           .when(mm < w, F.array(F.array_min(h)))
           .otherwise(F.array_distinct(F.transform(
               F.sequence(F.lit(0), mm - w),
               lambda j: F.array_min(F.slice(h, j + 1, w))))))
    return d.select("doc_id", F.explode(fps).alias("fp")).distinct()


def winnow_candidates(docs: DataFrame, n: int, w: int) -> DataFrame:
    """(id_a, id_b) candidate document pairs sharing a winnowing
    fingerprint — the 100-TB candidate generator (bucketed self-join on
    the fingerprint, never all-pairs), to be verified exactly by
    ``repeated_spans`` at stride 1 over the candidate subset."""
    fp = winnowed_fingerprints(docs, n, w)
    a = fp.select(F.col("doc_id").alias("id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
