"""CTC column operator: fit once on the driver, broadcast, apply vectorized.

Spark wiring of the kernel CTC stack (SURVEY.md M1-M4):
  * fit: language models + Gaussian binner + MLP are fit driver-side from
    (natural, code) token corpora — the reference retrains its CTC model at
    every E2E run (E2E_SoftNER.py:155); we fit once and broadcast.
  * apply: one pandas UDF pass per token batch, with per-batch distinct-token
    dedup (tokens repeat heavily, so the model runs on the vocabulary of the
    batch, not the token stream — the reference recomputes per token
    occurrence, E2E_SoftNER.py:85,117, which SURVEY.md §4 flags as redundant).

Also provides the word-frequency Gaussian feature vector (A7-A9,
Word_Freqency_Mapper.py) as a broadcastable artifact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.ctc import CTCArtifact, GaussianBinner


def fit_ctc(natural_corpus, code_corpus) -> CTCArtifact:
    return CTCArtifact(list(natural_corpus), list(code_corpus))


def with_ctc_column(tokens: DataFrame, spark: SparkSession,
                    artifact: CTCArtifact) -> DataFrame:
    bc = spark.sparkContext.broadcast(artifact)

    @F.pandas_udf(T.IntegerType())
    def ctc_pred(tok: pd.Series) -> pd.Series:
        art = bc.value
        codes, uniques = pd.factorize(tok.fillna(""))
        preds = art.predict(list(uniques))
        return pd.Series(preds[codes].astype("int32"))

    return tokens.withColumn("ctc", ctc_pred(F.col("token")))


class FreqVectorArtifact:
    """Per-word Gaussian-binned train-frequency vector
    (Word_Freqency_Mapper.py:15-45; dim = bins + 2, w = 5.0).

    Scale contract (fixes the r01 driver-collect anti-pattern): the word
    counts stay a DataFrame — only (min, max) of the count distribution
    cross the driver boundary (np.histogram's edges depend on nothing else,
    kernel/ctc.py GaussianBinner.from_range). The per-token frequency lookup
    is a join, not a broadcast dict."""

    def __init__(self, counts: DataFrame, binner: GaussianBinner,
                 token_col: str):
        self.counts = counts
        self.binner = binner
        self.token_col = token_col


def fit_freq_vector(tokens: DataFrame) -> FreqVectorArtifact:
    """Distributed count (A7); the binner fit (A8) collects two scalars."""
    counts = tokens.groupBy("token").agg(F.count("*").alias("freq"))
    row = counts.agg(F.min("freq").alias("mn"), F.max("freq").alias("mx")).first()
    mn = float(row["mn"]) if row["mn"] is not None else 0.0
    mx = float(row["mx"]) if row["mx"] is not None else 0.0
    return FreqVectorArtifact(
        counts, GaussianBinner.from_range(mn, mx, 100, 5.0), "token")


def with_freq_vector(tokens: DataFrame, spark: SparkSession,
                     artifact: FreqVectorArtifact) -> DataFrame:
    """Join the distributed counts (AQE decides broadcast vs shuffle), then
    one Arrow pass turns each frequency into its binned vector. Unseen
    tokens get frequency 0 like the reference's dict default."""
    bc = spark.sparkContext.broadcast(artifact.binner)

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def freq_vec(freq: pd.Series) -> pd.Series:
        binner = bc.value
        vals = freq.fillna(0).to_numpy(dtype=np.float64).reshape(-1, 1)
        if len(vals) == 0:
            return pd.Series([], dtype=object)
        codes, uniques = pd.factorize(pd.Series(vals[:, 0]))
        mat = binner.transform(np.asarray(uniques, dtype=np.float64)
                               .reshape(-1, 1), 1).astype(np.float32)
        return pd.Series([mat[c].tolist() for c in codes])

    cnt = artifact.counts.withColumnRenamed(artifact.token_col, "token")
    joined = tokens.join(cnt, "token", "left")
    return (joined.withColumn("freq_vector", freq_vec(F.col("freq")))
            .drop("freq"))
