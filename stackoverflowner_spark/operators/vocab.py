"""Vocabulary / frequency aggregations (reference A1-A7).

All are pure DataFrame aggregations: explode -> groupBy -> count ->
row_number. These stay entirely JVM-side (whole-stage codegen); the shuffle
key is the word, with AQE coalescing small partitions.

Reference parity (create_dico/create_mapping, utils_so.py:53-76, are
restated in ``__spark_entry__.q_vocab_mapping``):
  tag vocab        loader_so.py:352-363
  cap feature      loader_so.py:365-380
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def words_from_text(df: DataFrame) -> DataFrame:
    """Whitespace word explode (single-space split, like the CoNLL loaders'
    ``line.split()`` discipline on pre-tokenized text)."""
    return df.select(F.explode(F.split(F.col("text"), " ")).alias("word"))


def cap_feature_col(word_col: str = "word"):
    """0=lower 1=upper 2=title 3=mixed (loader_so.py:365-380 classes)."""
    w = F.col(word_col)
    return (
        F.when(w == F.lower(w), F.lit(0))
        .when(w == F.upper(w), F.lit(1))
        .when(F.substring(w, 1, 1) == F.upper(F.substring(w, 1, 1)), F.lit(2))
        .otherwise(F.lit(3))
    )
