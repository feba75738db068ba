"""Vocabulary / frequency aggregations (reference A1-A7).

All are pure DataFrame aggregations: explode -> groupBy -> count ->
row_number. These stay entirely JVM-side (whole-stage codegen); the shuffle
key is the word, with AQE coalescing small partitions.

Reference parity (create_dico/create_mapping, utils_so.py:53-76, are
restated in ``__spark_entry__.q_vocab_mapping``):
  char vocab       loader_so.py:339-349
  tag vocab        loader_so.py:352-363
  entity ranking   utils_so.py:409-457 (Sort_Entity_by_Count)
  cap feature      loader_so.py:365-380
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def words_from_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace word explode (single-space split, like the CoNLL loaders'
    ``line.split()`` discipline on pre-tokenized text)."""
    return df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))


def char_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    chars = df.select(
        F.explode(F.split(F.col(text_col), "")).alias("ch")).filter(F.col("ch") != "")
    return chars.groupBy("ch").agg(F.count("*").alias("freq"))


def cap_feature_col(word_col: str = "word"):
    """0=lower 1=upper 2=title 3=mixed (loader_so.py:365-380 classes)."""
    w = F.col(word_col)
    return (
        F.when(w == F.lower(w), F.lit(0))
        .when(w == F.upper(w), F.lit(1))
        .when(F.substring(w, 1, 1) == F.upper(F.substring(w, 1, 1)), F.lit(2))
        .otherwise(F.lit(3))
    )


def entity_rank(tagged: DataFrame, tag_col: str = "tag", top_n: int | None = None
                ) -> DataFrame:
    """B- phrase counts per entity type, ranked desc (Sort_Entity_by_Count)."""
    counts = (
        tagged.filter(F.col(tag_col).startswith("B-"))
        .select(F.expr(f"substring({tag_col}, 3)").alias("entity_type"))
        .groupBy("entity_type").agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("entity_type"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    if top_n is not None:
        ranked = ranked.filter(F.col("rank") <= top_n)
    return ranked
