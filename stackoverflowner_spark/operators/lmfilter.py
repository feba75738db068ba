"""CCNet-style n-gram language-model quality filtering.

The standard web-corpus quality pass (CCNet, RedPajama, Gopher all rank
or filter pages by LM perplexity against a clean reference corpus):
train a bigram LM on a reference slice, score every document's tokens
under it, and keep documents whose per-token cost sits inside a band.
Not a reference-repo operator; part of this engine's training-data
surface alongside operators/textstats.py (heuristic quality) and
operators/decontam.py (leakage guard).

The score is a **bit-cost** (driver-oracled, exact). Per bigram (w1, w2)
with add-one smoothing the model probability is (c12 + 1) / (c1 + V).
Its cost in WHOLE BITS is ``bitlen(c1 + V) - bitlen(c12 + 1)`` where
``bitlen(n) = length(bin(n))`` = floor(log2 n) + 1 — pure integer
arithmetic on counts, so the per-document sum is order-independent and
bitwise-identical cross-engine (cross-engine ``ln`` is NOT
IEEE-correctly-rounded, so a float log-prob sum can never be driver-
hashed; this integer Shannon-code-length proxy can). The keep decision
compares rationals in integers — ``sum_bits * 10 <= max_bits_x10 *
n_bigrams`` — so the filter itself is exact too. The conventional float
perplexity ``exp(-mean ln p)`` is not computed.

Scale shape at 100 TB: the model is vocab-sized (bounded by the
reference slice, millions of rows at most) — both count tables ride
BroadcastHashJoins; the corpus side is one scan -> explode(bigrams) ->
two broadcast joins -> one groupBy(doc) shuffle. Training is one
groupBy over the reference slice's bigrams (the slice is a hash bucket
of the corpus, so it scales with the model you want, not the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.decontam import norm_tokens


def _bigrams(df: DataFrame) -> DataFrame:
    """One row per (doc, position): (doc_id, w1, w2). Columnar: the
    bigram array is built with transform over an index sequence and
    exploded once — no Python, no self-join."""
    toks = norm_tokens()
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(F.element_at(toks, i).alias("w1"),
                                       F.element_at(toks, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (df.select("doc_id", F.explode(pairs).alias("bg"))
            .select("doc_id", F.col("bg.w1").alias("w1"),
                    F.col("bg.w2").alias("w2")))


def train_bigram_lm(ref_docs: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """(unigram_counts(w1, c1), bigram_counts(w1, w2, c12), vocab_size)
    over the reference slice. Context counts c1 are taken over bigram
    LEFT positions so probabilities normalize exactly; vocab_size over
    all tokens. Each output is vocab-sized (broadcast side downstream)."""
    bg = _bigrams(ref_docs)
    big = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # c1 is the bigram-left-position count = sum of c12 over w2, so the
    # unigram table folds out of the bigram table (vocab-sized input)
    # instead of re-exploding the reference corpus a second time
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (ref_docs
             .select(F.explode(norm_tokens()).alias("w"))
             .agg(F.countDistinct("w"))
             .first()[0])
    return uni, big, int(vocab or 0)


def score_bitcost(docs: DataFrame, uni: DataFrame, big: DataFrame,
                  vocab_size: int) -> DataFrame:
    """Per-document exact LM statistics: (doc_id, n_bigrams, known_ctx,
    known_bigram, sum_bits). sum_bits is the add-one-smoothed Shannon
    code length in whole bits (see module docstring); unseen contexts
    cost bitlen(V), unseen bigrams get c12 = 0. Integer-only, hence
    order-independent and driver-hashable."""
    bg = _bigrams(docs)
    j = (bg
         .join(F.broadcast(uni), "w1", "left")
         .join(F.broadcast(big), ["w1", "w2"], "left")
         .select("doc_id",
                 F.coalesce("c1", F.lit(0)).alias("c1"),
                 F.coalesce("c12", F.lit(0)).alias("c12")))
    bits = (F.length(F.bin(F.col("c1") + F.lit(vocab_size)))
            - F.length(F.bin(F.col("c12") + 1)))
    per = (j.groupBy("doc_id")
           .agg(F.count("*").alias("n_bigrams"),
                F.sum((F.col("c1") > 0).cast("long")).alias("known_ctx"),
                F.sum((F.col("c12") > 0).cast("long")).alias("known_bigram"),
                F.sum(bits.cast("long")).alias("sum_bits")))
    # docs too short to form a bigram still get a row (all zeros)
    return (docs.select("doc_id")
            .join(per, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.coalesce("known_ctx", F.lit(0)).alias("known_ctx"),
                    F.coalesce("known_bigram", F.lit(0)).alias("known_bigram"),
                    F.coalesce("sum_bits", F.lit(0)).alias("sum_bits")))


def keep_by_bitcost(scored: DataFrame, max_bits_x10: int) -> DataFrame:
    """Adds ``keep`` (1/0): mean bit-cost at most max_bits_x10/10 bits
    per bigram. Pure integer cross-multiplication — no float division,
    so the decision replays bitwise in any engine. Docs with no bigrams
    are kept (nothing to judge them on; length filters are a separate
    stage — operators/textstats.py)."""
    ok = (F.col("n_bigrams") == 0) | \
         (F.col("sum_bits") * 10 <= F.lit(max_bits_x10) * F.col("n_bigrams"))
    return scored.withColumn("keep", ok.cast("long"))
