"""Entity dictionary built from the gold annotated corpus (SURVEY.md §7 step 6).

Distributed A1/A2/A6-style build: gold sentences -> entity phrases (B-/I-
span assembly) -> per-(surface, type) counts -> canonical ids. The canonical
id of a surface form is ``soft:<normalized surface>`` of the most frequent
casing; every observed casing becomes an alias. Head entities keep their
Zipfian frequency rank so the salted-join path has real skew to chew on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..kernel.conlleval import extract_chunks
from ..kernel.ctc import hashed_embedding
from .dictionary import alias_link_score

_PHRASES_SCHEMA = T.StructType([
    T.StructField("surface", T.StringType()),
    T.StructField("entity_type", T.StringType()),
])


def entity_phrases(gold_sentences: DataFrame) -> DataFrame:
    """(words array, tags array) -> one row per annotated entity span."""

    def run(batches):
        for pdf in batches:
            out = []
            for words, tags in zip(pdf["words"], pdf["tags"]):
                words = list(words)
                for typ, a, b in extract_chunks(list(tags)):
                    out.append((" ".join(words[a:b]), typ))
            yield pd.DataFrame(out, columns=["surface", "entity_type"])

    return gold_sentences.select("words", "tags").mapInPandas(
        run, schema=_PHRASES_SCHEMA)


def dictionary_from_gold(gold_sentences: DataFrame,
                         min_count: int = 2) -> DataFrame:
    """Gold sentences -> entity_dict(canonical_id, alias, alias_norm,
    entity_type, embedding, freq_rank, link_score). All aggregation
    distributed; the embedding and its link score are attached in one
    vectorized pass at the end."""
    phrases = entity_phrases(gold_sentences)
    counts = (
        phrases.groupBy(F.lower("surface").alias("alias_norm"),
                        F.col("surface").alias("alias"), "entity_type")
        .agg(F.count("*").alias("n"))
    )
    # dominant type + total frequency per normalized surface
    norm_totals = counts.groupBy("alias_norm").agg(F.sum("n").alias("total"))
    w_type = Window.partitionBy("alias_norm").orderBy(F.desc("n"), F.asc("entity_type"))
    dominant = (
        counts.groupBy("alias_norm", "entity_type").agg(F.sum("n").alias("n"))
        .withColumn("rk", F.row_number().over(w_type)).filter("rk = 1")
        .select("alias_norm", F.col("entity_type").alias("canon_type"))
    )
    ranked = (
        norm_totals.filter(F.col("total") >= min_count)
        .withColumn("freq_rank",
                    F.row_number().over(Window.orderBy(F.desc("total"),
                                                       F.asc("alias_norm"))))
        .filter(F.col("freq_rank") <= 50_000)
    )
    aliases = (
        counts.join(ranked, "alias_norm")
        .join(dominant, "alias_norm")
        .select(
            F.concat(F.lit("soft:"), F.col("alias_norm")).alias("canonical_id"),
            "alias", "alias_norm",
            F.col("canon_type").alias("entity_type"),
            "freq_rank",
        ).distinct()
    )

    @F.pandas_udf("embedding array<float>, link_score double")
    def embed(alias_norm: pd.Series) -> pd.DataFrame:
        codes, uniq = pd.factorize(alias_norm.fillna(""))
        mat = hashed_embedding(list(uniq), dim=64).astype(np.float32)
        embs = [[float(x) for x in row] for row in mat]
        scores = [alias_link_score(a, e) for a, e in zip(uniq, embs)]
        return pd.DataFrame({"embedding": [embs[c] for c in codes],
                             "link_score": [scores[c] for c in codes]})

    return aliases.withColumn("_e", embed("alias_norm")).select(
        "canonical_id", "alias", "alias_norm", "entity_type", "_e.embedding",
        "freq_rank", "_e.link_score")
