"""Deterministic distributed skip-gram node embeddings (SGNS) over the
random-walk corpus.

DeepWalk's second half (Perozzi et al. 2014: truncated random walks +
skip-gram): operators/walks.py emits the walk corpus; this module turns
it into node embeddings with skip-gram + negative sampling (Mikolov et
al. 2013). Together with the TransE trainer (operators/kgembed.py) this
gives the engine both classical KG-embedding families — translation-
based over typed triples, and walk-context-based over raw structure.
The reference has no graph/embedding analytics; engine-beyond-reference
surface.

Bitwise determinism under ANY partitioning — the same four-part recipe
as operators/kgembed.py (distributed run == single-process pure-Python
replay, bit for bit; gated in tests/test_sgns.py):

* hash-random init (pure function of (seed, kind, id, dim), the
  operators/mixture.py md5-uniform idiom — reused from kgembed);
* hash-drawn negatives: md5(seed, epoch, walk_id, s1, s2, k) mod
  n_nodes indexes a partitioned_rank table — a pure row function, so
  every occurrence of a pair draws its own negatives and re-draws them
  per epoch, matching SGNS's per-occurrence sampling;
* row-local float64 only (+ - * / abs, zip_with/aggregate folds). The
  one SGNS ingredient that is NOT cross-engine bitwise is exp() (JVM
  Math.exp is <=1 ulp, libm is correctly rounded — the measured
  operators/linkpred.py aa gap), so the logistic uses the rational
  fast sigmoid sig(x) = 0.5 * (1 + x / (1 + |x|)) instead: same shape,
  same sign structure, division is IEEE-correctly-rounded everywhere.
  (Deviating from exact exp is faithful to practice: the original
  word2vec C implementation itself evaluates the logistic from a
  1000-slot lookup table, not exp().)
* the ONE cross-row reduction — the per-(node, side, dim) gradient
  sum — truncates each row's float64 contribution to 1e-9 fixed-point
  longs BEFORE the sum, so the shuffle reduction is exact integer math
  and partial-agg order cannot matter.

Scale shape at 10^12 docs: pair generation is a walk-keyed self-join
(walks are bounded-length, so per-key fan-out is <= walk_len * 2window —
no skew possible by construction); per epoch, two/three vocab-sided hash
joins of the pair stream against the embedding tables (vocab-sized — AQE
broadcasts when small), one posexplode to (id, dim) gradient rows —
O(pairs * (1 + k_neg) * dim) — and one groupBy(id, kind, dim) sum.
``localCheckpoint`` truncates lineage per epoch. Nothing corpus-sized
reaches the driver; the only collects are the n_nodes scalar and the
partitioned_rank partition counts.

Driver-oracle surface: the skip-gram pair table (`sgns_pairs`) and the
epoch-0 fixed-point gradient sums (`sgns_grad`) replay bitwise in DuckDB
(rotation gates); the full trainer is gated bitwise against the pure-
Python replay plus shuffle-partitioning invariance in tests/test_sgns.py.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.kgembed import (_FP, _apply,
                                                      init_embeddings)
from stackoverflowner_spark.operators.lineage import checkpoint
from stackoverflowner_spark.operators.prepare import partitioned_rank


def walk_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(walk_id, s1, s2, center, ctx): skip-gram training pairs — every
    ordered position pair within ``window`` steps inside one walk.
    Positions ride along so each occurrence can draw its own negatives."""
    a = walks.select("walk_id", F.col("step").alias("s1"),
                     F.col("node").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("s2"),
                     F.col("node").alias("ctx"))
    d = F.abs(F.col("s1") - F.col("s2"))
    return (a.join(b, "walk_id")
            .filter((d >= 1) & (d <= window))
            .select("walk_id", "s1", "s2", "center", "ctx"))


WALK_PAIRS_SQL_TMPL = """
    with w as ({walks_sql})
    select a.walk_id, a.step as s1, b.step as s2,
           a.node as center, b.node as ctx
    from w a join w b
      on a.walk_id = b.walk_id
     and abs(a.step - b.step) between 1 and {window}"""


def walk_pairs_sql(walks_sql: str, window: int = 2) -> str:
    """DuckDB replay of ``walk_pairs`` over a walk-producing SQL
    (columns walk_id, step, node) — the strict oracle twin."""
    return WALK_PAIRS_SQL_TMPL.format(walks_sql=walks_sql, window=window)


def _sig(x: F.Column) -> F.Column:
    """Rational fast sigmoid: 0.5 * (1 + x / (1 + |x|)) — cross-engine
    bitwise (one abs, one add, one divide, all correctly rounded)."""
    return F.lit(0.5) * (F.lit(1.0) + x / (F.lit(1.0) + F.abs(x)))


def _dot(a: str, b: str) -> F.Column:
    """Ordered left fold — row-local, deterministic."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def sgns_grad_fp(pairs: DataFrame, emb_in: DataFrame, emb_out: DataFrame,
                 node_idx: DataFrame, n_nodes: int, k_neg: int = 2,
                 seed: int = 0, epoch: int = 0) -> DataFrame:
    """One epoch's exact gradient aggregate: (id, kind, dim, gfp_sum)
    with kind in ('in', 'out'). The driver-oracled surface — every stage
    is row-local float64 plus one exact integer sum, so DuckDB replays
    it bitwise.

    SGNS objective per pair (u = in-vec of center, v = out-vec of ctx,
    v_k = out-vecs of k hash-drawn negatives):
    maximize log sig(u.v) + sum_k log sig(-u.v_k); gradient coefficients
    are (sig(u.v) - 1) for the positive and sig(u.v_k) for each
    negative, applied to the OTHER side's vector.

    Execution (guide §2.4, one pass): the positive arm rides the SAME
    exploded stream as the negatives as arm k = -1 — the old 4-branch
    union replayed the pair-join subplan four times (and the negative
    chain twice). Per (pair, k) row the two gradient contributions
    (center's in-side, partner's out-side) are emitted as a 2-struct
    inline array. Identical contribution multiset, identical per-row
    float expressions, and the reduction is the exact integer sum —
    bit-for-bit the old output under any partitioning."""
    uin = emb_in.select(F.col("id").alias("_u"), F.col("vec").alias("uv"))
    vout = emb_out.select(F.col("id").alias("_v"), F.col("vec").alias("vv"))
    p = (pairs.join(uin, pairs.center == uin._u).drop("_u")
         .join(vout, pairs.ctx == vout._v).drop("_v"))

    # arm k = -1 is the positive pair; k in [0, k_neg) are the hash-drawn
    # negatives (nidx NULL on the positive arm, so the left joins leave it
    # alone; the old inner joins matched every negative row and still do)
    nidx = F.when(F.col("k") >= 0, (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit("sgnsneg"), F.lit(str(seed)),
                          F.lit(str(epoch)), "walk_id",
                          F.col("s1").cast("string"),
                          F.col("s2").cast("string"),
                          F.col("k").cast("string"))),
        1, 15), 16, 10).cast("long") % F.lit(n_nodes) + 1))
    arms = (p.withColumn("k", F.explode(F.sequence(
                F.lit(-1), F.lit(k_neg - 1))))
            .withColumn("nidx", nidx))
    arms = (arms.join(node_idx.select(F.col("id").alias("nid"), "idx"),
                      arms.nidx == F.col("idx"), "left")
            .drop("idx", "nidx"))
    nv = emb_out.select(F.col("id").alias("_n"), F.col("vec").alias("nv"))
    arms = (arms.join(nv, arms.nid == nv._n, "left").drop("_n")
            # the old inner joins dropped negative rows whose drawn id was
            # missing from node_idx/emb_out; keep exactly that semantics
            # (unreachable in the engine's call paths, where embeddings
            # cover node_idx by construction)
            .filter((F.col("k") < 0) | F.col("nv").isNotNull()))
    # per-arm coefficient and out-side partner — the identical float
    # expressions the 4-branch form evaluated (cpos = sig(u.v) - 1 on the
    # positive arm, cneg = sig(u.v_k) on negatives)
    coef = F.when(F.col("k") < 0, _sig(_dot("uv", "vv")) - F.lit(1.0)) \
        .otherwise(_sig(_dot("uv", "nv")))
    pid = F.when(F.col("k") < 0, F.col("ctx")).otherwise(F.col("nid"))
    pvec = F.when(F.col("k") < 0, F.col("vv")).otherwise(F.col("nv"))
    contrib = F.array(
        F.struct(F.col("center").alias("id"), F.lit("in").alias("kind"),
                 F.transform(pvec, lambda x: F.col("coef") * x)
                 .alias("gv")),
        F.struct(pid.alias("id"), F.lit("out").alias("kind"),
                 F.transform("uv", lambda x: F.col("coef") * x)
                 .alias("gv")))
    rows = (arms.withColumn("coef", coef)
            .select(F.explode(contrib).alias("c"))
            .select("c.id", "c.kind",
                    F.posexplode("c.gv").alias("dim", "g")))
    # truncate-toward-zero to 1e-9 long units BEFORE the sum (exact
    # integer shuffle reduction, any partitioning)
    return (rows.select("id", "kind", "dim",
                        (F.col("g") * F.lit(float(_FP)))
                        .cast("long").alias("gfp"))
            .groupBy("id", "kind", "dim")
            .agg(F.sum("gfp").alias("gfp_sum")))


SGNS_GRAD_SQL_TMPL = """
    with p as ({pairs_sql}),
    nodes as (select distinct node as id from ({walks_sql})),
    nidx as (select id, row_number() over (order by id) as idx from nodes),
    dims as (select unnest(range(0, {dim})) as i),
    iinit as (select n.id, d.i,
              ((cast('0x' || substr(md5('{seed}:in:' || n.id
                                        || ':' || d.i), 1, 15) as bigint)
                / 1152921504606846976.0) * 2.0 - 1.0) * {bound} as v
              from nodes n cross join dims d),
    oinit as (select n.id, d.i,
              ((cast('0x' || substr(md5('{seed}:out:' || n.id
                                        || ':' || d.i), 1, 15) as bigint)
                / 1152921504606846976.0) * 2.0 - 1.0) * {bound} as v
              from nodes n cross join dims d),
    pdot as (select p.*,
                    list_reduce(list_prepend(0.0,
                      list(u.v * o.v order by u.i)), (a, x) -> a + x) as s
             from p
             join iinit u on u.id = p.center
             join oinit o on o.id = p.ctx and o.i = u.i
             group by all),
    pos as (select *, 0.5 * (1.0 + s / (1.0 + abs(s))) - 1.0 as coef
            from pdot),
    pos_u as (select pos.center as id, 'in' as kind, o.i as dim,
                     pos.coef * o.v as g
              from pos join oinit o on o.id = pos.ctx),
    pos_v as (select pos.ctx as id, 'out' as kind, u.i as dim,
                     pos.coef * u.v as g
              from pos join iinit u on u.id = pos.center),
    nk as (select p.*, t.k,
                  (cast('0x' || substr(md5('sgnsneg:{seed}:{epoch}:'
                        || p.walk_id || ':' || cast(p.s1 as varchar)
                        || ':' || cast(p.s2 as varchar)
                        || ':' || cast(t.k as varchar)), 1, 15) as bigint)
                   % (select count(*) from nodes)) + 1 as nx
           from p, (select unnest(range({k_neg})) as k) t),
    nids as (select nk.*, x.id as nid from nk join nidx x on x.idx = nk.nx),
    ndot as (select n.walk_id, n.s1, n.s2, n.k, n.center, n.nid,
                    list_reduce(list_prepend(0.0,
                      list(u.v * o.v order by u.i)), (a, x) -> a + x) as s
             from nids n
             join iinit u on u.id = n.center
             join oinit o on o.id = n.nid and o.i = u.i
             group by all),
    neg as (select *, 0.5 * (1.0 + s / (1.0 + abs(s))) as coef from ndot),
    neg_u as (select neg.center as id, 'in' as kind, o.i as dim,
                     neg.coef * o.v as g
              from neg join oinit o on o.id = neg.nid),
    neg_v as (select neg.nid as id, 'out' as kind, u.i as dim,
                     neg.coef * u.v as g
              from neg join iinit u on u.id = neg.center),
    rows as (select * from pos_u union all select * from pos_v
             union all select * from neg_u union all select * from neg_v)
    select id, kind, cast(dim as bigint) as dim,
           cast(sum(cast(trunc(g * 1000000000.0) as bigint)) as bigint)
             as gfp_sum
    from rows group by id, kind, dim"""


def sgns_grad_sql(pairs_sql: str, walks_sql: str, dim: int = 4,
                  k_neg: int = 2, seed: int = 0, epoch: int = 0) -> str:
    """DuckDB replay of the epoch-0 ``sgns_grad_fp`` over epoch-0 init
    embeddings — the strict bitwise oracle twin (mirrors the transe_grad
    oracle structure)."""
    bound = 6.0 / float(dim) ** 0.5
    return SGNS_GRAD_SQL_TMPL.format(
        pairs_sql=pairs_sql, walks_sql=walks_sql, dim=dim, k_neg=k_neg,
        seed=seed, epoch=epoch, bound=repr(bound))


def sgns_train(walks: DataFrame, dim: int = 8, window: int = 2,
               epochs: int = 3, lr: float = 0.025, k_neg: int = 2,
               seed: int = 0, partitions: Optional[int] = None
               ) -> Tuple[DataFrame, DataFrame]:
    """walks(walk_id, step, node) -> (in embeddings, out embeddings),
    both (id, vec array<double>). Full-batch deterministic SGD (the
    exact-reproducibility stand-in for word2vec's async SGD — same fixed
    points under any cluster layout, the kgembed discipline)."""
    pairs = walk_pairs(walks, window).transform(checkpoint)
    nodes = walks.select(F.col("node").alias("id")).distinct()
    node_idx = (partitioned_rank(nodes, order_by=["id"], id_col="idx",
                                 partitions=partitions)
                .select("id", "idx").transform(checkpoint))
    n_nodes = node_idx.count()
    emb_in = init_embeddings(node_idx.select("id"), dim, seed, "in") \
        .transform(checkpoint)
    emb_out = init_embeddings(node_idx.select("id"), dim, seed, "out") \
        .transform(checkpoint)
    for epoch in range(epochs):
        grads = sgns_grad_fp(pairs, emb_in, emb_out, node_idx, n_nodes,
                             k_neg, seed, epoch).transform(checkpoint)
        emb_in = _apply(emb_in, grads, "in", lr).transform(checkpoint)
        emb_out = _apply(emb_out, grads, "out", lr).transform(checkpoint)
    return emb_in, emb_out
