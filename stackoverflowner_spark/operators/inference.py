"""RDFS-style forward-chaining inference over (subj, pred, obj) triples.

KG-construction publish stage (SURVEY.md §2.8 family, beside
operators/validate.py's domain/range QA gate): materialize the entailed
triples of the ρdf core rules so downstream BGP queries (operators/
kgquery.py) see inferred types/predicates without per-query reasoning —
the standard "materialize at publish, query plain" trade for read-heavy
KGs:

* rdfs11 — ``subclass_of`` is transitive (schema-side closure),
* rdfs9  — types propagate up the class hierarchy:
           (x type C) + (C subclass_of* D)  =>  (x type D),
* rdfs5  — ``subproperty_of`` is transitive (schema-side closure),
* rdfs7  — assertions propagate up the property hierarchy:
           (x p y) + (p subproperty_of* q)  =>  (x q y).

Scale shape: the schema (subclass_of / subproperty_of statements) is
ontology-sized — thousands of rows against 10^12 corpus triples — so both
closures run on the tiny schema side and each propagation rule is ONE
broadcast hash join against the corpus-scale triple stream. The corpus
never shuffles except for the final triple-keyed ``distinct`` (and an
``already_distinct=True`` caller can skip even that). The closure itself
is semi-naive datalog: each iteration extends only the NEW pairs from the
previous iteration (delta join base, anti-join accumulator), so work per
iteration is O(new pairs), termination is guaranteed on cycles (the
anti-join empties the delta), and iterations are bounded by hierarchy
depth, not path count. Real ontologies are shallow (depth <= ~12 for the
largest public class trees), so the loop runs a handful of dictionary-
sized jobs before the single corpus pass.

Reference scope note: jeniyat/StackOverflowNER emits flat entity types
(code/BERT_NER/train_softner.py label inventory) with no ontology; this
operator is engine-added surface for the KG-construction tier (triples
produced by operators/triples.py carry ``instance_of`` assertions whose
types form a natural hierarchy, e.g. Algorithm/Data_Structure under a
shared concept class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transitive_closure(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """edges(src, dst) -> all (src, dst) pairs connected by a directed path.

    Semi-naive iteration: ``delta_{i+1} = project(delta_i |><| base) - acc``.
    Path length grows by one edge per iteration, so ``max_iter`` bounds the
    longest chain, NOT the pair count; cycles terminate naturally because
    the anti-join against the accumulator empties the delta. Reflexive
    pairs are NOT added (rdfs11 closure is irreflexive unless the input
    carries a self-loop or a cycle closes one).

    Intended for schema-scale inputs (ontology class/property trees); an
    all-pairs closure of a corpus-scale graph is output-explosive and
    should use bfs_dist/sssp (operators/graphalgo.py) per source instead.
    """
    base = (edges.select(F.col("src").cast("string").alias("src"),
                         F.col("dst").cast("string").alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct().cache())
    acc = base
    delta = base
    for i in range(max_iter):
        # rename-before-join: on the first iteration delta IS base, and a
        # plain self-join on identical attribute ids fails analysis
        step = (delta.select(F.col("src").alias("tc_src"),
                             F.col("dst").alias("tc_mid")).alias("d")
                .join(base.alias("b"), F.col("d.tc_mid") == F.col("b.src"))
                .select(F.col("d.tc_src").alias("src"),
                        F.col("b.dst").alias("dst"))
                .distinct())
        new = (step.join(
            acc.select(F.col("src").alias("a_src"),
                       F.col("dst").alias("a_dst")),
            (F.col("src") == F.col("a_src"))
            & (F.col("dst") == F.col("a_dst")), "left_anti")
            .cache())
        if new.limit(1).count() == 0:
            return acc
        # cache(), not localCheckpoint(): Spark 4.1's eager localCheckpoint
        # materializes a LogicalRDD carrying originConstraints from the
        # pre-checkpoint plan (the isNotNull filter above), and re-analysis
        # after self-join deduplication then dies with NoSuchElementException
        # ("key not found: dst#N") rewriting those constraints. Caching is
        # safe here because the loop runs on schema-scale inputs only — the
        # lineage the checkpoint would cut is max_iter-bounded over tiny
        # data, and acc stays a flat union of cached deltas.
        acc = acc.union(new)
        delta = new
    raise RuntimeError(
        f"transitive_closure: chain longer than max_iter={max_iter} — "
        "raise max_iter for deeper hierarchies")


def rdfs_materialize(triples: DataFrame,
                     already_distinct: bool = False) -> DataFrame:
    """Return asserted + entailed (subj, pred, obj), distinct.

    The schema is read in-band from ``triples`` (RDF keeps its ontology in
    the same graph): ``subclass_of`` rows form the class tree,
    ``subproperty_of`` rows the property tree. Both trees are closed
    transitively (rdfs11/rdfs5, at most 30 hops) schema-side, then:

    * rdfs9: ``(x, instance_of, C)`` joined to the class closure emits
      ``(x, instance_of, D)`` for every superclass D,
    * rdfs7: ``(x, p, y)`` joined to the property closure emits
      ``(x, q, y)`` for every superproperty q.

    Both joins broadcast the closed schema; the output unions the input
    stream with the two entailment streams and applies one triple-keyed
    ``distinct`` (the single corpus-scale shuffle — skippable when the
    caller guarantees ``already_distinct`` AND accepts entailed duplicates
    of asserted rows being collapsed anyway, so the flag only skips the
    redundant pre-distinct of the INPUT side).
    """
    tri = triples.select("subj", "pred", "obj")
    if not already_distinct:
        tri = tri.distinct()

    class_cl = transitive_closure(
        tri.filter(F.col("pred") == "subclass_of")
           .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    prop_cl = transitive_closure(
        tri.filter(F.col("pred") == "subproperty_of")
           .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))

    # rdfs11 / rdfs5: the closures themselves are entailed schema triples
    inferred_sub = class_cl.select(
        F.col("src").alias("subj"), F.lit("subclass_of").alias("pred"),
        F.col("dst").alias("obj"))
    inferred_subprop = prop_cl.select(
        F.col("src").alias("subj"), F.lit("subproperty_of").alias("pred"),
        F.col("dst").alias("obj"))

    # rdfs7 first: broadcast the closed property tree against every
    # assertion. Runs BEFORE rdfs9 because a subproperty of ``instance_of``
    # creates new type assertions that rdfs9 must then lift through the
    # class tree — this rule stratification (close schema -> rdfs7 ->
    # rdfs9) is complete for the ρdf fragment as long as ``subclass_of`` /
    # ``subproperty_of`` themselves are not targets of subproperty chains
    # (the pathological meta-level case, out of scope here as in every
    # production materializer).
    inferred_props = (tri.join(
        F.broadcast(prop_cl), tri.pred == prop_cl.src)
        .select("subj", F.col("dst").alias("pred"), "obj"))
    with_props = tri.unionByName(inferred_props)

    # rdfs9: broadcast the closed class tree against all type assertions
    # (asserted or rdfs7-derived)
    types = with_props.filter(F.col("pred") == "instance_of")
    inferred_types = (types.join(
        F.broadcast(class_cl), types.obj == class_cl.src)
        .select("subj", F.lit("instance_of").alias("pred"),
                F.col("dst").alias("obj")))

    return (with_props.unionByName(inferred_sub)
            .unionByName(inferred_subprop).unionByName(inferred_types)
            .distinct())
