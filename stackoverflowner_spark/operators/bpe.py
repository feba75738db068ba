"""BPE pair statistics (the first merge step of an LLM-tokenizer build).

A byte-pair-encoding tokenizer trained on the corpus is a standard
artifact of a training-data pipeline (Sennrich et al. 2016 "Neural
Machine Translation of Rare Words with Subword Units" — the public
algorithm; the reference repo has no tokenizer training, this is
engine-beyond-reference surface alongside token_count's BPE-ish piece
counter in operators/textstats.py).

Scale design: the corpus is read ONCE, into the distinct (word, count)
table (Heaps' law: ~10^7-10^8 distinct words at web scale — comfortably
distributed, tiny next to the corpus). The adjacent-pair counts a merge
step ranks are one explode + groupBy over THAT table (a vocabulary-
bounded shuffle), weighted by word count, zero Python.

The pair counts are DuckDB-oracled (``bpe_pairs``) on the strict
rotation gate and checked against a single-process count in
tests/test_bpe.py. Merge training and encoding are not implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, cnt): lowercase whitespace words — ONE corpus pass; the
    vocabulary-sized table every training iteration runs over."""
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda x: x != "")
    return (docs.select(F.explode(words).alias("word"))
            .groupBy("word").agg(F.count("*").alias("cnt")))


def _initial_seqs(words: DataFrame) -> DataFrame:
    """(seq: array<string>, cnt): per-word character sequence with the
    end-of-word marker (the classic BPE alphabet)."""
    return words.select(
        F.concat(F.split(F.col("word"), ""),
                 F.array(F.lit(END))).alias("seq"),
        F.col("cnt"))


def pair_counts(seqs: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-symbol pair frequencies weighted by word count
    — the per-iteration aggregate (vocabulary-bounded shuffle)."""
    n = F.size(F.col("seq"))
    pairs = F.arrays_zip(F.slice(F.col("seq"), 1, n - 1),
                         F.slice(F.col("seq"), 2, n - 1))
    return (seqs.filter(n >= 2)
            .select(F.explode(pairs).alias("p"), F.col("cnt"))
            .select(F.col("p")["0"].alias("a"), F.col("p")["1"].alias("b"),
                    F.col("cnt"))
            .groupBy("a", "b").agg(F.sum("cnt").alias("n")))
