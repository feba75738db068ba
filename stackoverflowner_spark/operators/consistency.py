"""Document-level label-consistency as a declarative Spark operator.

The production hot path applies kernel/docconsist.py ``doc_postpass``
INSIDE the fused ``pages_to_mentions_fused`` page loop — a page is a
document, so the pass rides the existing single ``mapInPandas`` with zero
extra shuffle. ``propagate_mentions`` is its one Spark twin, for the
checkpointed path, where mentions and tokens are already materialized as
tables and the pass should run engine-side (aggregate + window + join, all
JVM, WholeStageCodegen) instead of re-crossing into Python.

The kernel's rule, restated over the mention table:

* votes  — single-token mentions whose surface passes the name-shape gate
           vote (url, surface) -> entity type, one vote per mention;
* majority — the top-voted type per (url, surface), dropped on ties;
* propagate — token positions no mention covers whose token matches a
           voted surface (exact case) become new single-token mentions;
           existing mentions are never touched.

Parity with the kernel, read as chunk sets, is gated in
tests/test_consistency.py; the checkpointed-vs-fused engine gate is
tests/test_spark_pipeline.py::test_checkpoint_resume_no_recompute.

Scale shape: the vote aggregate shuffles O(single-token mentions) rows, and
the candidate join keys on (url, token) against the small voted-label table
BEFORE the coverage anti-join, so the range predicate only ever sees
candidate rows, not the whole token table; every key is url-prefixed, so no
key can exceed one document.

The shape gate's regex restatement uses Unicode classes (``\\p{Lu}`` /
``\\p{Nd}`` — supported by both Java regex and DuckDB's RE2) to track
Python's ``isupper``/``isdigit``; the only divergence is exotic cased
letters outside Lu (titlecase digraphs), which the parity test corpus
exercises on the ASCII identifier surfaces the gate exists for. The kernel
pass remains the authority inside the fused path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# kernel/docconsist.py name_like: len >= 2, has an alphanumeric, and has an
# uppercase/digit/identifier char. Regex restatement for the JVM/SQL twin
# (parameterized on the column name).
NAME_LIKE_SQL = (
    "length({c}) >= 2 and {c} rlike '[\\\\p{{L}}\\\\p{{Nd}}]' "
    "and {c} rlike '[\\\\p{{Lu}}\\\\p{{Nd}}._/-]'"
)


def propagate_mentions(mentions: DataFrame, tokens: DataFrame) -> DataFrame:
    """Kernel ``doc_postpass`` over the mention table.

    ``mentions``: the MENTIONS_SCHEMA chunk table; ``tokens``: the long
    token table (url, sent_idx, pos, token). Returns mentions ∪ propagated,
    same schema.
    """
    single = (mentions
              .filter((F.col("tok_end") - F.col("tok_start")) == 1)
              .filter(F.expr(NAME_LIKE_SQL.format(c="surface"))))
    votes = single.groupBy("url", "surface", "tag_type").agg(
        F.count("*").alias("votes"))
    rk = Window.partitionBy("url", "surface")
    labels = (votes
              .withColumn("_top", F.max("votes").over(rk))
              .withColumn("_n_top", F.sum(
                  F.when(F.col("votes") == F.col("_top"), 1)
                  .otherwise(0)).over(rk))
              .filter((F.col("votes") == F.col("_top"))
                      & (F.col("_n_top") == 1))
              .select("url", F.col("surface").alias("token"),
                      F.col("tag_type").alias("_ptype")))
    cand = tokens.join(labels, ["url", "token"])
    m = mentions.select(
        F.col("url").alias("m_url"), F.col("sent_idx").alias("m_sidx"),
        "tok_start", "tok_end")
    uncovered = cand.join(
        m, (cand.url == m.m_url) & (cand.sent_idx == m.m_sidx)
        & (cand.pos >= m.tok_start) & (cand.pos < m.tok_end), "left_anti")
    new = uncovered.select(
        "url", "sent_idx",
        F.col("pos").alias("tok_start"),
        (F.col("pos") + 1).alias("tok_end"),
        F.col("token").alias("surface"),
        F.lower(F.col("token")).alias("surface_norm"),
        F.col("_ptype").alias("tag_type"))
    return mentions.unionByName(
        new.select(*mentions.columns)
        .withColumn("sent_idx", F.col("sent_idx").cast("int"))
        .withColumn("tok_start", F.col("tok_start").cast("int"))
        .withColumn("tok_end", F.col("tok_end").cast("int")))
