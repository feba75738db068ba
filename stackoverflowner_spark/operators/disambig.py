"""Collective entity disambiguation over co-mention evidence (lite).

The canonicalization step between alias matching (operators/link.py)
and component clustering (operators/components.py): when an alias maps
to SEVERAL candidate entities, pick per (document, mention) the
candidate best supported by the document's OTHER mentions — the
standard coherence signal of collective entity linking (Cucerzan 2007 /
Milne-Witten class, public methods), restated as a deterministic
integer count so it oracles bitwise:

    support(candidate e of mention m in doc d) =
        # distinct OTHER mentions m' in d such that at least one
        candidate of m' is adjacent to e in the evidence graph

Winner per (doc, mention) = argmax support, ties broken by entity id —
a total order, so the assignment is a pure function of the inputs.

Scale shape at 100 TB: candidates join the symmetrized evidence edges
ON THE ENTITY (popular-entity skew = ordinary AQE-splittable join
skew; the dictionary-sized edge table can broadcast when it fits),
then neighbor hits join back doc-keyed — fan-out bounded by per-doc
candidates, the same discipline as the co-mention builder's mega-doc
guard upstream. One distinct-count shuffle, one per-(doc, mention)
window over candidate-sized groups. Float coherence scores
(embedding-cosine context similarity) are the engine-local channel on
top of this integer spine, same split as operators/lmfilter.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def disambiguate(candidates: DataFrame, edges: DataFrame) -> DataFrame:
    """candidates(doc, mention, entity) + edges(src, dst) ->
    (doc, mention, entity, support): one winning candidate per
    (doc, mention). Candidates with no adjacent co-mention evidence
    keep support 0 and still resolve (by entity order), so every
    mention gets exactly one assignment."""
    cand = (candidates.select(F.col("doc_id").alias("_d"),
                              F.col("mention").alias("_m"),
                              F.col("entity").alias("_e"))
            .distinct())
    sym = (edges.select(F.col("src").alias("_e"), F.col("dst").alias("_n"))
           .unionByName(edges.select(F.col("dst").alias("_e"),
                                     F.col("src").alias("_n")))
           .filter(F.col("_e") != F.col("_n"))
           .distinct())

    nbrs = cand.join(sym, "_e")
    others = cand.select(F.col("_d"), F.col("_m").alias("_m2"),
                         F.col("_e").alias("_n"))
    hits = (nbrs.join(others, ["_d", "_n"])
            .filter(F.col("_m") != F.col("_m2")))
    support = (hits.groupBy("_d", "_m", "_e")
               .agg(F.count_distinct("_m2").alias("_s")))

    scored = (cand.join(support, ["_d", "_m", "_e"], "left")
              .select("_d", "_m", "_e",
                      F.coalesce(F.col("_s"), F.lit(0))
                      .cast("long").alias("support")))
    w = (Window.partitionBy("_d", "_m")
         .orderBy(F.col("support").desc(), F.col("_e").asc()))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("_d").alias("doc_id"),
                    F.col("_m").alias("mention"),
                    F.col("_e").alias("entity"),
                    "support"))
