"""Inverted index build and conjunctive keyword search.

Corpus-search surface (engine-beyond-reference): the postings table is
the classic IR structure — one row per (term, doc_id) with term
frequency — built with one explode + one shuffle, then conjunctive
(AND) multi-term queries resolve as a postings equi-join with an
all-terms-matched guard, ranked by an integer score with a total
deterministic order. The reference repo greps its corpora offline; a
100-TB corpus needs this as a first-class operator (inspecting
curation decisions, pulling training specimens, gold-data triage).

Exactness discipline: the score is the integer sum of term frequencies
(BM25's float idf/length normalization is engine-local math — same
class as the lmfilter float channel — so the oracled rank order is
(score DESC, doc_id ASC), deterministic and bitwise cross-engine).

Scale shape at 100 TB:

* Index build: one scan, explode(tokens) (O(corpus tokens)), ONE
  shuffle on (term, doc) for the tf counts. Persist partitioned BY
  TERM so query-time joins prune to the queried terms' buckets.
* Query: the query set is tiny -> broadcast onto the postings scan
  (predicate pushdown on term), one groupBy(qid, doc) shuffle bounded
  by matched postings, then a per-qid top-k window. Head terms
  ("the") are ordinary group skew: AQE-splittable, and real
  deployments stoplist them at index build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stackoverflowner_spark.operators.decontam import norm_tokens


def build_postings(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf): one row per distinct term per document."""
    return (docs.select("doc_id",
                        F.explode(norm_tokens()).alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count("*").cast("long").alias("tf")))


def keyword_search(postings: DataFrame, queries: DataFrame,
                   k: int = 10) -> DataFrame:
    """Conjunctive search: ``queries`` is (qid, term) — one row per
    query term, terms distinct within a qid. Returns (qid, doc_id,
    score, rank): documents containing ALL the query's terms, score =
    sum of tf over the query terms, top ``k`` per query by
    (score DESC, doc_id ASC)."""
    q = queries.select("qid", "term").distinct()
    n_terms = q.groupBy("qid").agg(F.count("*").alias("_nt"))
    # broadcast SEMI join on the query-term set first: unlike the inner
    # join below (which multiplies rows per qid and so cannot move), a
    # left-semi on the grouping key is pushed below the caller's tf
    # aggregation (PushDownLeftSemiAntiJoin), so a lazily-composed
    # postings build only counts tf for queried terms — the classic
    # inverted-index property that only query-term postings are touched.
    # Identical result: semi-join then inner join on the same key set
    # (build-side duplicates are irrelevant to a semi join, so no
    # distinct — one less exchange in the plan).
    postings = postings.join(F.broadcast(q.select("term")),
                             "term", "left_semi")
    hits = (postings.join(F.broadcast(q), "term")
            .groupBy("qid", "doc_id")
            .agg(F.count("*").alias("_matched"),
                 F.sum("tf").cast("long").alias("score")))
    full = (hits.join(F.broadcast(n_terms), "qid")
            .filter(F.col("_matched") == F.col("_nt")))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(),
                                          F.col("doc_id").asc())
    return (full.select("qid", "doc_id", "score",
                        F.row_number().over(w).cast("long").alias("rank"))
            .filter(F.col("rank") <= k))
