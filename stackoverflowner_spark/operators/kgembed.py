"""Deterministic distributed TransE knowledge-graph embeddings.

The standard KG-completion embedding model (Bordes et al. 2013,
"Translating Embeddings for Modeling Multi-relational Data"): entities
and relations live in R^d and a true triple (h, r, t) should satisfy
h + r ≈ t; training minimizes the margin ranking loss between the
L2²-distance of each observed triple and a negative with a corrupted
tail. Feeds the same KG-QA queue as the neighborhood scores in
operators/linkpred.py, but generalizes past shared neighbors — a
learned score exists for ANY (h, r, t) candidate. The reference has no
graph/embedding analytics; engine-beyond-reference surface alongside
pagerank/linkpred.

Why this is bitwise-deterministic under ANY partitioning (the property
that makes it testable at all — distributed run == single-process numpy
replay, bit for bit):

* initialization is hash-random, not RNG-random: component (id, i) is
  the md5-uniform idiom (operators/mixture.py) mapped to the paper's
  ±6/sqrt(d) box — a pure function of (seed, id, i), no driver RNG, no
  partition-order dependence;
* negative tails are hash-corrupted: md5(seed, epoch, h, r, t) mod
  n_entities indexes a rank table built by the skew-proof two-pass
  partitioned_rank (operators/prepare.py) — again a pure row function;
* ALL float math is row-local (zip_with / transform / an ORDERED
  left-fold aggregate for the distances) using only + - * / sqrt —
  IEEE-correctly-rounded everywhere, so JVM == numpy == DuckDB bitwise;
* the ONE cross-row reduction — the per-(entity, dim) gradient sum — is
  exact integer fixed point: each row truncates its float64 gradient
  component to 1e-9 units as a long BEFORE the sum, so the shuffle
  reduction is associative-commutative-exact and partial-aggregation
  order cannot matter (the linkpred ra_fp / group_moments discipline).

Scale shape: per epoch, three dimension-sided hash joins of the triples
against the entity/relation tables (entity table is vocab-sized — AQE
broadcasts it when small, shuffles on id when not), one posexplode to
(id, dim) gradient rows — O(triples · d) — one groupBy(id, dim) sum,
one groupBy(id) regroup, one join back to apply updates.
``localCheckpoint`` truncates lineage per epoch (the iterative-DataFrame
pitfall, same as operators/pagerank.py). Nothing corpus-sized reaches
the driver; the only collects are the n_entities scalar and the
partitioned_rank partition counts.

Driver-oracle surface: the epoch-0 fixed-point gradient sums
(``transe_grad_fp``) replay bitwise in DuckDB (rotation gate
``transe_grad``); the full trainer is gated bitwise against the numpy
replay plus shuffle-partitioning invariance in tests/test_kgembed.py.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.lineage import checkpoint
from stackoverflowner_spark.operators.prepare import partitioned_rank

_DENOM = float(16 ** 15)  # 15 md5 hex chars -> uniform [0, 1)
_FP = 1_000_000_000  # gradient fixed point: 1e-9 units


def _unit(*parts) -> "F.Column":
    h = F.md5(F.concat_ws(":", *[p.cast("string") if hasattr(p, "cast")
                                 else F.lit(str(p)) for p in parts]))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(_DENOM)


def init_embeddings(ids: DataFrame, dim: int, seed: int = 0,
                    kind: str = "ent") -> DataFrame:
    """(id) -> (id, vec array<double>): component i uniform in
    ±6/sqrt(d) (the paper's init box) as a pure function of
    (seed, kind, id, i)."""
    bound = 6.0 / float(dim) ** 0.5
    comps = [(_unit(F.lit(seed), F.lit(kind), F.col("id"), F.lit(i))
              * F.lit(2.0) - F.lit(1.0)) * F.lit(bound)
             for i in range(dim)]
    return ids.select("id", F.array(*comps).alias("vec"))


def _l2_normalize(emb: DataFrame) -> DataFrame:
    # ordered left fold for the squared norm -> row-local, deterministic
    norm = F.sqrt(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x))
    return emb.select(
        "id", F.transform("vec", lambda x: x / norm).alias("vec"))


def _grad_rows(joined: DataFrame, margin: float) -> DataFrame:
    """Per-triple margin-loss gradients, exploded to exact fixed-point
    (id, dim, gfp) rows. ``joined`` carries hv/rv/tv/nv (+ neg id nid)."""
    pos = F.zip_with(F.zip_with("hv", "rv", lambda a, b: a + b), F.col("tv"),
                     lambda s, t: s - t)
    neg = F.zip_with(F.zip_with("hv", "rv", lambda a, b: a + b), F.col("nv"),
                     lambda s, t: s - t)
    d = (joined.withColumn("pos", pos).withColumn("neg", neg)
         .withColumn("dpos", F.aggregate("pos", F.lit(0.0),
                                         lambda a, x: a + x * x))
         .withColumn("dneg", F.aggregate("neg", F.lit(0.0),
                                         lambda a, x: a + x * x))
         .filter(F.lit(float(margin)) + F.col("dpos") - F.col("dneg") > 0))
    two = F.lit(2.0)
    g_hr = F.zip_with("pos", "neg", lambda p, n: two * (p - n))
    g_t = F.transform("pos", lambda p: -two * p)
    g_n = F.transform("neg", lambda n: two * n)
    # one pass (guide §2.4): the old 4-branch union replayed the
    # triple-side join subplan four times; emitting the four gradient
    # contributions as a row-local 4-struct inline array keeps the
    # contribution multiset — and every per-row float expression —
    # identical while the upstream runs once
    contrib = F.array(
        F.struct(F.col("subj").alias("id"), F.lit("e").alias("kind"),
                 g_hr.alias("gv")),
        F.struct(F.col("pred").alias("id"), F.lit("r").alias("kind"),
                 g_hr.alias("gv")),
        F.struct(F.col("obj").alias("id"), F.lit("e").alias("kind"),
                 g_t.alias("gv")),
        F.struct(F.col("nid").alias("id"), F.lit("e").alias("kind"),
                 g_n.alias("gv")))
    rows = (d.select(F.explode(contrib).alias("c"))
            .select("c.id", "c.kind",
                    F.posexplode("c.gv").alias("dim", "g")))
    # truncate-toward-zero to 1e-9 long units BEFORE the sum: the shuffle
    # reduction below is then exact integer math, any partitioning
    return rows.select("id", "kind", "dim",
                       (F.col("g") * F.lit(float(_FP)))
                       .cast("long").alias("gfp"))


def transe_grad_fp(triples: DataFrame, ent: DataFrame, rel: DataFrame,
                   ent_idx: DataFrame, n_ent: int, margin: float = 1.0,
                   seed: int = 0, epoch: int = 0) -> DataFrame:
    """One epoch's exact gradient aggregate: (id, kind, dim, gfp_sum).
    The driver-oracled surface — every stage up to here is row-local
    float64 (+ - * only) plus one exact integer sum, so DuckDB replays
    it bitwise."""
    nidx = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit("neg"), F.lit(str(seed)),
                          F.lit(str(epoch)), "subj", "pred", "obj")),
        1, 15), 16, 10).cast("long") % F.lit(n_ent) + 1)
    t = triples.select("subj", "pred", "obj", nidx.alias("nidx"))
    t = t.join(ent_idx, t.nidx == ent_idx.idx).drop("idx", "nidx") \
         .withColumnRenamed("id", "nid")
    for col, emb, vec in (("subj", ent, "hv"), ("pred", rel, "rv"),
                          ("obj", ent, "tv"), ("nid", ent, "nv")):
        e = emb.select(F.col("id").alias(f"_{vec}id"),
                       F.col("vec").alias(vec))
        t = t.join(e, t[col] == e[f"_{vec}id"]).drop(f"_{vec}id")
    return (_grad_rows(t, margin)
            .groupBy("id", "kind", "dim")
            .agg(F.sum("gfp").alias("gfp_sum")))


def _apply(emb: DataFrame, grads: DataFrame, kind: str,
           lr: float) -> DataFrame:
    g = (grads.filter(F.col("kind") == kind)
         .groupBy("id")
         .agg(F.transform(
             F.array_sort(F.collect_list(F.struct("dim", "gfp_sum"))),
             lambda s: s.gfp_sum).alias("gv")))
    scale = F.lit(float(lr)) / F.lit(float(_FP))
    upd = F.when(F.col("gv").isNull(), F.col("vec")).otherwise(
        F.zip_with("vec", "gv", lambda v, q: v - scale * q))
    return emb.join(g, "id", "left").select("id", upd.alias("vec"))


def transe_train(triples: DataFrame, dim: int = 8, epochs: int = 5,
                 lr: float = 0.01, margin: float = 1.0, seed: int = 0,
                 partitions: Optional[int] = None
                 ) -> Tuple[DataFrame, DataFrame]:
    """triples(subj, pred, obj) -> (entity embeddings, relation
    embeddings), both (id, vec array<double>).

    Paper loop: relations normalized once at init, entities renormalized
    at the start of every epoch, full-batch margin-ranking gradient step
    per epoch (the deterministic-exact stand-in for the paper's
    minibatch SGD — same fixed points, reproducible under any cluster
    layout)."""
    t = triples.select("subj", "pred", "obj").transform(checkpoint)
    ents = (t.select(F.col("subj").alias("id"))
            .union(t.select(F.col("obj").alias("id")))
            .distinct())
    ent_idx = (partitioned_rank(ents, order_by=["id"], id_col="idx",
                                partitions=partitions)
               .select("id", "idx").transform(checkpoint))
    n_ent = ent_idx.count()
    rels = t.select(F.col("pred").alias("id")).distinct()
    ent = init_embeddings(ent_idx.select("id"), dim, seed)
    rel = _l2_normalize(init_embeddings(rels, dim, seed, "rel"))
    rel = checkpoint(rel)
    for epoch in range(epochs):
        ent = _l2_normalize(ent).transform(checkpoint)
        grads = transe_grad_fp(t, ent, rel, ent_idx, n_ent, margin,
                               seed, epoch).transform(checkpoint)
        ent = _apply(ent, grads, "e", lr).transform(checkpoint)
        rel = _apply(rel, grads, "r", lr).transform(checkpoint)
    return ent, rel


def transe_eval(test: DataFrame, train: DataFrame, ent: DataFrame,
                rel: DataFrame) -> DataFrame:
    """Standard filtered link-prediction evaluation (the TransE paper's
    protocol): for each held-out triple (h, r, t), rank the true tail
    among ALL entities by the h + r - t' distance, skipping candidates
    t' where (h, r, t') is itself a known train/test triple ("filtered"
    setting). Returns one row: (n, mrr, hits1, hits3, hits10).

    Scale shape: the candidate fan-out is the one O(test · entities)
    stage, produced by a single join of per-test-triple (h+r) vectors
    against the entity table and reduced IMMEDIATELY by a partial-agg
    count — no window, no sort, no per-(h, r) partition ever holds more
    than a counter. The filter set joins as a left-anti on (subj, pred,
    obj). Rank ties break deterministically: a candidate beats the true
    tail iff (dist, id) < (dist_true, t) lexicographically, so the
    reported ranks are identical under any partitioning (distances are
    row-local IEEE folds of identical doubles on every engine). The
    integer rank counters (n, hits@k) are exact under any partitioning;
    the one order-dependent float is the final reciprocal-rank sum,
    ulp-tolerance-gated vs the pure-Python replay in tests.
    """
    hv = ent.select(F.col("id").alias("_h"), F.col("vec").alias("hv"))
    rv = rel.select(F.col("id").alias("_r"), F.col("vec").alias("rv"))
    tv = ent.select(F.col("id").alias("_t"), F.col("vec").alias("tv"))
    q = (test.select("subj", "pred", "obj")
         .join(hv, F.col("subj") == F.col("_h")).drop("_h")
         .join(rv, F.col("pred") == F.col("_r")).drop("_r")
         .withColumn("qv", F.zip_with("hv", "rv", lambda a, b: a + b))
         .drop("hv", "rv"))
    dist_of = lambda vec: F.aggregate(  # noqa: E731
        F.zip_with("qv", vec, lambda s, x: s - x), F.lit(0.0),
        lambda a, x: a + x * x)
    truth = (q.join(tv, F.col("obj") == F.col("_t")).drop("_t")
             .withColumn("dtrue", dist_of(F.col("tv"))).drop("tv")
             .transform(checkpoint))
    known = (train.select("subj", "pred", "obj")
             .union(test.select("subj", "pred", "obj")).distinct())
    cands = (truth.crossJoin(tv)
             .filter(F.col("_t") != F.col("obj")))
    cands = cands.join(
        known.select(F.col("subj").alias("ks"), F.col("pred").alias("kp"),
                     F.col("obj").alias("ko")),
        (F.col("subj") == F.col("ks")) & (F.col("pred") == F.col("kp"))
        & (F.col("_t") == F.col("ko")), "left_anti")
    beats = (F.col("d") < F.col("dtrue")) | (
        (F.col("d") == F.col("dtrue")) & (F.col("_t") < F.col("obj")))
    ranks = (cands.withColumn("d", dist_of(F.col("tv")))
             .groupBy("subj", "pred", "obj")
             .agg(F.sum(F.when(beats, 1).otherwise(0)).alias("nb"))
             # right-join the truth rows so a test triple with zero
             # surviving candidates still scores (rank 1)
             .join(truth.select("subj", "pred", "obj"),
                   ["subj", "pred", "obj"], "right")
             .select((F.coalesce(F.col("nb"), F.lit(0)) + 1).alias("rank")))
    agg = ranks.agg(
        F.count("*").alias("n"),
        F.sum(1.0 / F.col("rank")).alias("rr"),
        F.sum(F.when(F.col("rank") <= 1, 1).otherwise(0)).alias("h1"),
        F.sum(F.when(F.col("rank") <= 3, 1).otherwise(0)).alias("h3"),
        F.sum(F.when(F.col("rank") <= 10, 1).otherwise(0)).alias("h10"))
    nd = F.col("n").cast("double")
    return agg.select(
        "n", (F.col("rr") / nd).alias("mrr"),
        (F.col("h1") / nd).alias("hits1"),
        (F.col("h3") / nd).alias("hits3"),
        (F.col("h10") / nd).alias("hits10"))


def transe_score(cands: DataFrame, ent: DataFrame,
                 rel: DataFrame) -> DataFrame:
    """cands(subj, pred, obj) -> + (dist): the L2² translation distance
    h + r - t — smaller = more plausible. Candidates with unseen ids
    drop out (inner joins), matching every published TransE scorer."""
    t = cands
    for col, emb, vec in (("subj", ent, "hv"), ("pred", rel, "rv"),
                          ("obj", ent, "tv")):
        e = emb.select(F.col("id").alias(f"_{vec}id"),
                       F.col("vec").alias(vec))
        t = t.join(e, t[col] == e[f"_{vec}id"]).drop(f"_{vec}id")
    diff = F.zip_with(F.zip_with("hv", "rv", lambda a, b: a + b),
                      F.col("tv"), lambda s, x: s - x)
    return t.select("subj", "pred", "obj",
                    F.aggregate(diff, F.lit(0.0),
                                lambda a, x: a + x * x).alias("dist"))
