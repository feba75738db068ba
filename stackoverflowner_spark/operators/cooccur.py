"""PMI-style collocation mining over adjacent token pairs.

KG-relevant relation-phrase surface (engine-beyond-reference, same
class as operators/lmfilter.py which shares the bigram machinery): a
collocation table scores how much more often two tokens co-occur
adjacently than independence predicts — the standard first pass for
mining multi-word entity names and relation cues from a web corpus
before they enter the alias dictionary (operators/link.py).

Exactness discipline (the lmfilter/bit-cost lesson): PMI itself is
``log(p(w1,w2) / (p(w1) p(w2)))`` and cross-engine ``ln`` is not IEEE
correctly rounded, so the oracled output carries the association as an
EXACT RATIONAL instead — ``lift = (c12 * N * N) / (P * c1 * c2)`` split
into bigint numerator/denominator (N = corpus tokens, P = corpus
adjacent pairs), plus a ``strong`` flag decided by integer
cross-multiplication (lift >= threshold). Consumers wanting the float
PMI take ``log`` of the ratio locally; the engine never hashes a log.

Scale shape at 100 TB: one corpus scan explodes bigrams (O(tokens)),
ONE shuffle each for the pair and unigram counts; unigram counts are
vocab-sized and ride broadcast joins back onto the pair table; the two
corpus totals cross the driver as one row. Overflow headroom:
``c12 * N * N`` stays under int64 while ``c12 * N^2 < 9.2e18`` —
at N = 1e12 tokens use the documented ``scale_shift`` to divide both
sides of the rational by a power of two first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.decontam import norm_tokens
from stackoverflowner_spark.operators.lmfilter import _bigrams


def collocations(docs: DataFrame, min_pair_count: int = 2,
                 strong_lift_x10: int = 20) -> DataFrame:
    """(w1, w2, c12, c1, c2, lift_num, lift_den, strong) per adjacent
    token pair with ``c12 >= min_pair_count``.

    lift_num / lift_den is the exact independence ratio
    ``(c12 * N^2) / (P * c1 * c2)``; ``strong`` = 1 iff that ratio is
    >= strong_lift_x10 / 10, decided in integers (10 * num >= t * den).
    """
    toks = docs.select(F.explode(norm_tokens()).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    totals = toks.agg(F.count("*").alias("n_tokens"))

    pairs = _bigrams(docs)
    c12 = (pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
           .filter(F.col("c12") >= min_pair_count))
    p_total = pairs.agg(F.count("*").alias("n_pairs"))

    out = (c12
           .join(F.broadcast(uni.select(F.col("w").alias("w1"),
                                        F.col("c").alias("c1"))), "w1")
           .join(F.broadcast(uni.select(F.col("w").alias("w2"),
                                        F.col("c").alias("c2"))), "w2")
           .crossJoin(F.broadcast(totals))
           .crossJoin(F.broadcast(p_total)))
    num = F.col("c12") * F.col("n_tokens") * F.col("n_tokens")
    den = F.col("n_pairs") * F.col("c1") * F.col("c2")
    return out.select(
        "w1", "w2",
        F.col("c12").cast("long").alias("c12"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        num.cast("long").alias("lift_num"),
        den.cast("long").alias("lift_den"),
        (F.lit(10) * num >= F.lit(strong_lift_x10) * den)
        .cast("long").alias("strong"))


def comention_edges(mentions: DataFrame, doc_col: str = "doc_id",
                    ent_col: str = "entity",
                    max_per_doc: int | None = None) -> DataFrame:
    """(src, dst, w): undirected entity co-mention edges — src < dst
    canonical, w = number of documents where both entities appear
    (per-document multiplicity ignored). The standard KG evidence graph
    feeding pagerank/components/triangles.

    Scale shape: the self-join is keyed on the DOCUMENT, so fan-out is
    per-doc-distinct-entities squared — bounded by ``max_per_doc``
    (documents above it are dropped entirely, the standard mega-doc
    guard: a page mentioning 10k entities contributes 5e7 pairs of
    near-zero evidential value). One distinct shuffle, one doc-keyed
    join, one groupBy(src, dst) shuffle; never all-pairs across docs.
    """
    # one groupBy(doc) collects each doc's distinct entity set (partial-
    # agg set union), the mega-doc guard is a row-local size() filter,
    # and the src < dst pairs fall out of sorted-array combinations —
    # replacing the old distinct + count-agg + semi-join + doc-keyed
    # self-join (4 exchanges) with 2 exchanges and zero joins. Per-doc
    # pair fan-out is unchanged (combinations of the distinct set).
    per_doc = (mentions
               .groupBy(F.col(doc_col).alias("_d"))
               .agg(F.sort_array(F.collect_set(F.col(ent_col)))
                    .alias("_es")))
    if max_per_doc is not None:
        per_doc = per_doc.filter(F.size("_es") <= max_per_doc)
    es = F.col("_es")
    combos = F.flatten(F.transform(
        es,
        lambda x, i: F.transform(
            F.slice(es, i + F.lit(2), F.size(es)),
            lambda y: F.struct(x.alias("src"), y.alias("dst")))))
    return (per_doc.select(F.explode(combos).alias("p"))
            .select("p.src", "p.dst")
            .groupBy("src", "dst")
            .agg(F.count("*").cast("long").alias("w")))
