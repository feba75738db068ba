"""Distributed BPE-merge training and encoding (LLM-tokenizer pipeline op).

A byte-pair-encoding tokenizer trained on the corpus is a standard
artifact of a training-data pipeline (Sennrich et al. 2016 "Neural
Machine Translation of Rare Words with Subword Units" — the public
algorithm; the reference repo has no tokenizer training, this is
engine-beyond-reference surface alongside token_count's BPE-ish piece
counter in operators/textstats.py).

Scale design — the part that matters at 100 TB:

* Training never iterates over the corpus. ONE corpus pass builds the
  distinct (word, count) table (Heaps' law: ~10^7-10^8 distinct words at
  web scale — comfortably distributed, tiny next to the corpus), and
  every merge iteration runs over THAT table only: one adjacent-pair
  explode + groupBy (a vocabulary-bounded shuffle), one 1-row argmax
  collect (count desc, pair asc — deterministic across partitionings and
  engines), one JVM ``aggregate`` fold applying the merge. k merges =
  k bounded shuffles, zero Python in the loop.
* The per-iteration merge application is a whole-stage-codegen
  higher-order fold (left-to-right non-overlapping replacement — exactly
  the reference algorithm's semantics), not a UDF.
* ``localCheckpoint`` truncates the iterative lineage every iteration
  (the repo-wide bounded-plan rule for iterative operators —
  components/pagerank/kcore discipline).
* ENCODING is the corpus-scale path: the trained merge ranks ride a
  broadcast dict into one Arrow-batched ``mapInPandas`` with a per-word
  memo (web text repeats words heavily), so the hot loop is
  O(distinct words per batch), not O(tokens).

Training parity is gated bitwise against a single-process reference
implementation (tests/test_bpe.py); the first-iteration pair counts are
additionally DuckDB-oracled (``bpe_pairs``) on the strict rotation gate.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import checkpoint

END = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): lowercase whitespace words — ONE corpus pass; the
    vocabulary-sized table every training iteration runs over."""
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
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


def apply_merge(seq_col, x: str, y: str):
    """Left-to-right non-overlapping replacement of adjacent (x, y) with
    x+y — a JVM higher-order fold, no UDF. ("aaa" + merge (a,a) ->
    ["aa","a"], the reference algorithm's greedy scan.)"""
    xy = x + y
    return F.aggregate(
        seq_col,
        F.expr("cast(array() as array<string>)"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(x)) & (t == F.lit(y)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(xy)))
        ).otherwise(F.concat(acc, F.array(t))))


def bpe_train(words: DataFrame, num_merges: int,
              min_pair_count: int = 2) -> List[Tuple[str, str]]:
    """Learn ``num_merges`` BPE merges over a (word, cnt) table.

    Deterministic: each argmax breaks ties by (count desc, a asc, b asc),
    so the merge list is independent of partitioning and engine. Stops
    early when no pair reaches ``min_pair_count``. Each iteration
    collects exactly ONE row (the argmax) — nothing corpus- or
    vocabulary-sized ever reaches the driver."""
    seqs = _initial_seqs(words).transform(checkpoint)
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        top = (pair_counts(seqs)
               .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
               .limit(1).collect())
        if not top or top[0]["n"] < min_pair_count:
            break
        x, y = top[0]["a"], top[0]["b"]
        merges.append((x, y))
        seqs = (seqs.select(apply_merge(F.col("seq"), x, y).alias("seq"),
                            F.col("cnt"))
                .transform(checkpoint))
    return merges


def _encode_word(word: str, ranks: dict) -> List[str]:
    """Single-process BPE encode of one word with trained merge ranks —
    the same algorithm the training loop distributes (lowest-rank merge
    first; ties cannot occur, ranks are unique)."""
    seq = list(word) + [END]
    while len(seq) >= 2:
        best, best_rank = None, None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        # merge EVERY occurrence of that pair left-to-right (the classic
        # algorithm applies one merge rule to the whole sequence per step)
        x, y = seq[best], seq[best + 1]
        out: List[str] = []
        i = 0
        while i < len(seq):
            if i < len(seq) - 1 and seq[i] == x and seq[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


def bpe_encode(docs: DataFrame, merges: List[Tuple[str, str]],
               text_col: str = "text", out_col: str = "bpe_tokens"
               ) -> DataFrame:
    """Corpus-scale encoding: broadcast merge ranks, one Arrow-batched
    ``mapInPandas`` with a per-word memo (web text repeats words heavily
    — the hot loop is O(distinct words per batch), not O(tokens))."""
    import pandas as pd
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)

    spark = docs.sparkSession
    ranks = {pair: i for i, pair in enumerate(merges)}
    b_ranks = spark.sparkContext.broadcast(ranks)
    schema = StructType(docs.schema.fields
                        + [StructField(out_col, ArrayType(StringType()))])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = b_ranks.value
        memo: dict = {}

        def enc(text: Optional[str]) -> List[str]:
            out: List[str] = []
            for w in (text or "").lower().split():
                hit = memo.get(w)
                if hit is None:
                    hit = memo[w] = _encode_word(w, r)
                out.extend(hit)
            return out

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[text_col].map(enc)
            yield pdf

    return docs.mapInPandas(run, schema=schema)


def bpe_train_reference(word_counts_local: dict, num_merges: int,
                        min_pair_count: int = 2) -> List[Tuple[str, str]]:
    """Single-process reference trainer (the published algorithm) for the
    bitwise parity gate: identical merge list to ``bpe_train``."""
    seqs = {tuple(list(w) + [END]): c for w, c in word_counts_local.items()}
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict = {}
        for seq, c in seqs.items():
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (x, y) = best[0]
        merges.append((x, y))
        new: dict = {}
        for seq, c in seqs.items():
            out: List[str] = []
            i = 0
            while i < len(seq):
                if i < len(seq) - 1 and seq[i] == x and seq[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + c
        seqs = new
    return merges
