"""Deterministic random-walk corpus generation + neighborhood-Jaccard
merge candidates over plain edge DataFrames.

KG-embedding feeder and canonicalization surface (engine-beyond-reference,
SURVEY §2.8 class alongside graphalgo/linkpred/kgembed; the reference has
no graph analytics):

* ``random_walks`` emits the DeepWalk/node2vec-style walk corpus
  (Perozzi et al. 2014) that skip-gram node-embedding trainers consume —
  the classical alternative input to the TransE trainer already shipped
  in operators/kgembed.py. Every "random" choice is a pure function of
  (salt, walk_id, step) through md5, so the corpus is bit-identical
  across executors, partitionings, reruns AND engines — the same
  engine-portable-hash discipline as operators/sampling.py — which is
  what puts an inherently "stochastic" operator under a bitwise DuckDB
  recursive-CTE oracle.
* ``merge_candidates`` scores node pairs by neighbor-set Jaccard — the
  standard alias-merge candidate generator for KG canonicalization (two
  surface forms of one entity co-mention with the same company, not with
  each other). Integer-only output: the Jaccard ships as an exact
  rational (common, union) plus a threshold flag decided by integer
  cross-multiplication, the operators/cooccur.py lift discipline.

Scale shape at 10^12 docs:

* adjacency is built once ((v, n, rnk, d): neighbor rank by sorted id +
  degree) and reused across all walk steps; each step shuffles only the
  CONSTANT-size walk frontier (n_starts rows) against it — walks never
  grow state, and ``localCheckpoint`` truncates the per-step lineage
  (the bounded-plan rule all iterative operators here follow). On a
  cluster the adjacency side would be bucketed by v so every step's
  join is co-located; frontier rows are O(walks), not O(edges).
* undirected graphs have no dead ends (every node in the adjacency has
  degree >= 1), so the output size is exactly
  n_starts * walk_len rows — predictable write amplification.
* ``merge_candidates`` reuses the linkpred wedge discipline: the join
  fans out on the MIDPOINT node, ``max_degree`` drops hub midpoints
  above the cap (their endpoint role is untouched), one groupBy(u, w)
  shuffle over surviving wedges — never all-pairs.

Input contract (both operators): canonical undirected edges —
``src < dst``, distinct, no self-loops — exactly what
operators/cooccur.comention_edges emits.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lineage import checkpoint


def _adjacency(edges: DataFrame) -> DataFrame:
    """(v, n, rnk, d): both directions of the canonical edge list with a
    deterministic neighbor rank (sorted by neighbor id) and the degree."""
    e = edges.select("src", "dst")
    und = (e.select(F.col("src").alias("v"), F.col("dst").alias("n"))
           .unionAll(e.select(F.col("dst").alias("v"),
                              F.col("src").alias("n"))))
    w = Window.partitionBy("v").orderBy("n")
    return (und.withColumn("rnk", F.row_number().over(w) - 1)
            .withColumn("d", F.count("*").over(Window.partitionBy("v"))))


def _pick(salt: str, step: int) -> F.Column:
    """Engine-portable uniform pick in [0, d): md5(salt:walk_id:step)
    first 15 hex chars -> bigint (< 2^60, so never negative) mod degree."""
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col("walk_id"),
                          F.lit(str(step))))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % F.col("d")


def random_walks(edges: DataFrame, walks_per_node: int = 2,
                 walk_len: int = 5, salt: str = "walk",
                 start_bucket: Optional[str] = "0",
                 checkpoint_every: int = 4) -> DataFrame:
    """(walk_id, step, node): ``walks_per_node`` deterministic uniform
    random walks of ``walk_len`` steps from every start node.

    ``start_bucket`` keeps the corpus bounded on huge graphs: only nodes
    whose md5 first hex char equals it start walks (1/16 of nodes);
    ``None`` starts from every node. Walks traverse the WHOLE graph
    either way. walk_id = "<node>#<i>".

    ``checkpoint_every`` cuts the step lineage every k steps instead of
    every step: between cuts a step's frontier is recomputed lazily by
    the branches that reference it (at most k-1 extra frontier-sized
    joins against the checkpointed adjacency — frontiers are O(starts),
    never edge-sized), trading that bounded recompute for k-1 fewer
    eager materialization barriers per k steps. Values are pure md5
    functions of (salt, walk_id, step), so the plan shape cannot change
    a single output bit (the strict DuckDB oracle gates this)."""
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    adj = _adjacency(edges).transform(checkpoint)
    nodes = adj.select("v").distinct()
    if start_bucket is not None:
        nodes = nodes.filter(
            F.substring(F.md5(F.col("v")), 1, 1) == start_bucket)
    frontier = (nodes.select(
        F.col("v").alias("node"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1)))
        .alias("i"))
        .select(F.concat_ws("#", F.col("node"), F.col("i"))
                .alias("walk_id"),
                F.lit(0).cast("long").alias("step"), "node")
        .transform(checkpoint))
    out = frontier
    for s in range(1, walk_len):
        frontier = (frontier.join(adj, frontier.node == adj.v)
                    .filter(F.col("rnk") == _pick(salt, s))
                    .select("walk_id", F.lit(s).cast("long").alias("step"),
                            F.col("n").alias("node")))
        if s % checkpoint_every == 0:
            frontier = checkpoint(frontier)
        out = out.unionByName(frontier)
    return out


RANDOM_WALKS_SQL_TMPL = """
    with recursive e as ({edges_sql}),
    und as (select src as v, dst as n from e
            union all
            select dst as v, src as n from e),
    adj as (select v, n,
                   row_number() over (partition by v order by n) - 1 as rnk,
                   count(*) over (partition by v) as d
            from und),
    starts as (select v from (select distinct v from und) t
               {start_filter}),
    walk(walk_id, step, node) as (
        select s.v || '#' || cast(t.i as varchar) as walk_id,
               cast(0 as bigint) as step, s.v as node
        from starts s, (select unnest(range({wpn})) as i) t
        union all
        select w.walk_id, w.step + 1, a.n
        from walk w
        join adj a on a.v = w.node
         and a.rnk = cast('0x' || substr(
                 md5('{salt}:' || w.walk_id || ':'
                     || cast(w.step + 1 as varchar)), 1, 15) as bigint)
             % a.d
        where w.step + 1 < {walk_len})
    select walk_id, step, node from walk"""


def random_walks_sql(edges_sql: str, walks_per_node: int = 2,
                     walk_len: int = 5, salt: str = "walk",
                     start_bucket: Optional[str] = "0") -> str:
    """DuckDB recursive-CTE replay of ``random_walks`` over an
    edge-producing SQL (columns src, dst, canonical src < dst) — the
    strict bitwise oracle twin."""
    start_filter = (f"where substr(md5(v), 1, 1) = '{start_bucket}'"
                    if start_bucket is not None else "")
    return RANDOM_WALKS_SQL_TMPL.format(
        edges_sql=edges_sql, wpn=walks_per_node, walk_len=walk_len,
        salt=salt, start_filter=start_filter)


def node2vec_walks(edges: DataFrame, walks_per_node: int = 2,
                   walk_len: int = 5, w_return: int = 1, w_near: int = 4,
                   w_far: int = 2, salt: str = "n2v",
                   start_bucket: Optional[str] = "0") -> DataFrame:
    """(walk_id, step, node): node2vec's second-order biased walks
    (Grover & Leskovec 2016) with EXACT integer edge weights.

    The paper parameterizes the bias as 1/p (return to the previous
    node), 1 (neighbor of the previous node) and 1/q (move farther);
    this operator takes the same three weights as integers
    (w_return, w_near, w_far) — i.e. (1/p : 1 : 1/q) scaled to a common
    denominator — so the weighted draw is integer arithmetic end to end:
    draw = md5(salt, walk_id, step) mod sum(weights), pick the first
    neighbor (in rank order) whose cumulative weight exceeds the draw.
    No float ever enters the choice, which is what makes a biased walk
    bitwise-reproducible across engines (the DuckDB twin replays the
    cumulative pick as a join-aggregate).

    Second-order state rides the frontier as (prev, cur); step 0 sets
    prev = cur, which classifies every first-step candidate as
    "neighbor of prev" (they all touch cur) — a uniform first step,
    matching the paper. Scale shape matches ``random_walks`` plus one
    extra broadcast-or-shuffle probe per step: the is-near flag is a
    left join of the candidate set against the adjacency on
    (prev, candidate). Candidate fan-out per step is sum-of-frontier-
    degrees; the per-walk cumulative sum is a window over that walk's
    candidates only (bounded by max degree, never corpus-wide).

    ``w_return`` may be 0 (forbids immediate backtracking — a
    zero-weight candidate can never win the cumulative draw) EXCEPT at
    a dead end: when every candidate weighs 0 (a degree-1 node whose
    only neighbor is the previous step), the step falls back to a
    uniform draw so the walk backtracks instead of dying — the same
    escape hatch reference node2vec implementations take by never
    letting 1/p reach exact zero."""
    adj = _adjacency(edges).transform(checkpoint)
    nodes = adj.select("v").distinct()
    if start_bucket is not None:
        nodes = nodes.filter(
            F.substring(F.md5(F.col("v")), 1, 1) == start_bucket)
    frontier = (nodes.select(
        F.col("v").alias("node"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1)))
        .alias("i"))
        .select(F.concat_ws("#", F.col("node"), F.col("i"))
                .alias("walk_id"),
                F.lit(0).cast("long").alias("step"),
                F.col("node").alias("prev"), F.col("node"))
        .transform(checkpoint))
    out = frontier.select("walk_id", "step", "node")
    prev_edge = adj.select(F.col("v").alias("_pv"), F.col("n").alias("_pn"),
                           F.lit(1).alias("_near"))
    for s in range(1, walk_len):
        cand = (frontier.join(adj, frontier.node == adj.v)
                .join(prev_edge,
                      (F.col("prev") == F.col("_pv"))
                      & (F.col("n") == F.col("_pn")), "left")
                .withColumn("w", F.when(F.col("n") == F.col("prev"),
                                        F.lit(w_return))
                            .when(F.col("_near").isNotNull(), F.lit(w_near))
                            .otherwise(F.lit(w_far)).cast("long")))
        wwin = Window.partitionBy("walk_id")
        # dead-end escape: if every candidate weighs 0, draw uniformly
        cand = (cand.withColumn("tot", F.sum("w").over(wwin))
                .withColumn("weff", F.when(F.col("tot") > 0, F.col("w"))
                            .otherwise(F.lit(1)).cast("long")))
        cum = (F.sum("weff").over(
            wwin.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)))
        total = F.sum("weff").over(wwin)
        h = F.md5(F.concat_ws(":", F.lit(salt), F.col("walk_id"),
                              F.lit(str(s))))
        draw = (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
                % total)
        nxt = (cand.withColumn("cum", cum).withColumn("draw", draw)
               .filter((F.col("draw") < F.col("cum"))
                       & (F.col("draw") >= F.col("cum") - F.col("weff")))
               .select("walk_id", F.lit(s).cast("long").alias("step"),
                       F.col("node").alias("prev"),
                       F.col("n").alias("node"))
               .transform(checkpoint))
        frontier = nxt
        out = out.unionByName(frontier.select("walk_id", "step", "node"))
    return out


NODE2VEC_SQL_TMPL = """
    with recursive e as ({edges_sql}),
    und as (select src as v, dst as n from e
            union all
            select dst as v, src as n from e),
    adj as (select v, n,
                   row_number() over (partition by v order by n) - 1 as rnk
            from und),
    starts as (select v from (select distinct v from und) t
               {start_filter}),
    walk(walk_id, step, prev, node) as (
        select s.v || '#' || cast(t.i as varchar) as walk_id,
               cast(0 as bigint) as step, s.v as prev, s.v as node
        from starts s, (select unnest(range({wpn})) as i) t
        union all
        select q.walk_id, q.step, q.prev, q.node from (
          select c.walk_id, c.step, c.prev, c.node, c.weff,
                 sum(c.weff) over (partition by c.walk_id, c.step
                                   order by c.rnk
                                   rows between unbounded preceding
                                            and current row) as cum,
                 c.draw_raw % sum(c.weff)
                   over (partition by c.walk_id, c.step) as draw
          from (
            select b.*, case when b.tot > 0 then b.wt else 1 end as weff
            from (
              select w.walk_id, w.step + 1 as step, w.node as prev,
                     a.n as node, a.rnk,
                     case when a.n = w.prev then {w_return}
                          when exists (select 1 from adj p
                                       where p.v = w.prev and p.n = a.n)
                               then {w_near}
                          else {w_far} end as wt,
                     sum(case when a.n = w.prev then {w_return}
                              when exists (select 1 from adj p
                                           where p.v = w.prev
                                             and p.n = a.n) then {w_near}
                              else {w_far} end)
                       over (partition by w.walk_id, w.step) as tot,
                     cast('0x' || substr(md5('{salt}:' || w.walk_id || ':'
                              || cast(w.step + 1 as varchar)), 1, 15)
                          as bigint) as draw_raw
              from walk w
              join adj a on a.v = w.node
              where w.step + 1 < {walk_len}) b) c) q
        where q.draw < q.cum and q.draw >= q.cum - q.weff)
    select walk_id, step, node from walk"""


def node2vec_walks_sql(edges_sql: str, walks_per_node: int = 2,
                       walk_len: int = 5, w_return: int = 1,
                       w_near: int = 4, w_far: int = 2, salt: str = "n2v",
                       start_bucket: Optional[str] = "0") -> str:
    """DuckDB recursive-CTE replay of ``node2vec_walks`` — the strict
    bitwise oracle twin (the weighted pick is integer cumulative
    arithmetic, so the two engines cannot diverge)."""
    start_filter = (f"where substr(md5(v), 1, 1) = '{start_bucket}'"
                    if start_bucket is not None else "")
    return NODE2VEC_SQL_TMPL.format(
        edges_sql=edges_sql, wpn=walks_per_node, walk_len=walk_len,
        w_return=w_return, w_near=w_near, w_far=w_far, salt=salt,
        start_filter=start_filter)


def weighted_walks(edges: DataFrame, walks_per_node: int = 2,
                   walk_len: int = 5, salt: str = "wwalk",
                   start_bucket: Optional[str] = "0") -> DataFrame:
    """(walk_id, step, node): first-order walks whose step distribution
    is proportional to INTEGER edge weights — edges must carry
    (src, dst, w) with w >= 1 (the co-mention graph's document count is
    the natural input: heavily co-attested relations attract the walk).

    Same exact-arithmetic draw as node2vec_walks (cumulative integer
    weights, md5 draw mod total), same recursive-CTE DuckDB twin, no
    second-order state — the cheap middle rung between uniform
    ``random_walks`` and biased ``node2vec_walks``."""
    e = edges.select("src", "dst", "w")
    und = (e.select(F.col("src").alias("v"), F.col("dst").alias("n"), "w")
           .unionAll(e.select(F.col("dst").alias("v"),
                              F.col("src").alias("n"), "w")))
    rw = Window.partitionBy("v").orderBy("n")
    adj = (und.withColumn("rnk", F.row_number().over(rw) - 1)
           .withColumn("w", F.col("w").cast("long"))
           .transform(checkpoint))
    nodes = adj.select("v").distinct()
    if start_bucket is not None:
        nodes = nodes.filter(
            F.substring(F.md5(F.col("v")), 1, 1) == start_bucket)
    frontier = (nodes.select(
        F.col("v").alias("node"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1)))
        .alias("i"))
        .select(F.concat_ws("#", F.col("node"), F.col("i"))
                .alias("walk_id"),
                F.lit(0).cast("long").alias("step"), "node")
        .transform(checkpoint))
    out = frontier
    wwin = Window.partitionBy("walk_id")
    for s in range(1, walk_len):
        cand = frontier.join(adj, frontier.node == adj.v)
        cum = F.sum("w").over(
            wwin.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0))
        total = F.sum("w").over(wwin)
        h = F.md5(F.concat_ws(":", F.lit(salt), F.col("walk_id"),
                              F.lit(str(s))))
        draw = (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
                % total)
        frontier = (cand.withColumn("cum", cum).withColumn("draw", draw)
                    .filter((F.col("draw") < F.col("cum"))
                            & (F.col("draw") >= F.col("cum") - F.col("w")))
                    .select("walk_id", F.lit(s).cast("long").alias("step"),
                            F.col("n").alias("node"))
                    .transform(checkpoint))
        out = out.unionByName(frontier)
    return out


WEIGHTED_WALKS_SQL_TMPL = """
    with recursive e as ({edges_sql}),
    und as (select src as v, dst as n, w from e
            union all
            select dst as v, src as n, w from e),
    adj as (select v, n, cast(w as bigint) as w,
                   row_number() over (partition by v order by n) - 1 as rnk
            from und),
    starts as (select v from (select distinct v from und) t
               {start_filter}),
    walk(walk_id, step, node) as (
        select s.v || '#' || cast(t.i as varchar) as walk_id,
               cast(0 as bigint) as step, s.v as node
        from starts s, (select unnest(range({wpn})) as i) t
        union all
        select q.walk_id, q.step, q.node from (
          select w.walk_id, w.step + 1 as step, a.n as node, a.w as wt,
                 sum(a.w) over (partition by w.walk_id, w.step
                                order by a.rnk
                                rows between unbounded preceding
                                         and current row) as cum,
                 cast('0x' || substr(md5('{salt}:' || w.walk_id || ':'
                          || cast(w.step + 1 as varchar)), 1, 15)
                      as bigint)
                 % sum(a.w) over (partition by w.walk_id, w.step) as draw
          from walk w
          join adj a on a.v = w.node
          where w.step + 1 < {walk_len}) q
        where q.draw < q.cum and q.draw >= q.cum - q.wt)
    select walk_id, step, node from walk"""


def weighted_walks_sql(edges_sql: str, walks_per_node: int = 2,
                       walk_len: int = 5, salt: str = "wwalk",
                       start_bucket: Optional[str] = "0") -> str:
    """DuckDB recursive-CTE replay of ``weighted_walks`` — the strict
    bitwise oracle twin."""
    start_filter = (f"where substr(md5(v), 1, 1) = '{start_bucket}'"
                    if start_bucket is not None else "")
    return WEIGHTED_WALKS_SQL_TMPL.format(
        edges_sql=edges_sql, wpn=walks_per_node, walk_len=walk_len,
        salt=salt, start_filter=start_filter)


def merge_candidates(edges: DataFrame, min_jaccard_pct: int = 30,
                     max_degree: Optional[int] = None,
                     min_common: int = 2) -> DataFrame:
    """(u, w, common, du, dw, uni, cand, connected): neighbor-set overlap
    for every node pair sharing >= ``min_common`` neighbors.

    Jaccard = common / uni as an exact rational (uni = du + dw - common);
    ``cand`` = 1 iff 100 * common >= min_jaccard_pct * uni, decided in
    integers. ``connected`` marks pairs that are ALSO direct edges (alias
    duplicates usually are not — the flag lets the curator split the
    queue without a second pass).

    Execution: NEIGHBORHOOD-CLASS collapse before the wedge join. Every
    score column above depends on a node only through its neighbor
    multiset N(u), so nodes with identical (sorted) neighbor lists are
    interchangeable: group them into classes, run the quadratic wedge
    enumeration over CLASSES, and expand class pairs back to member
    pairs at the end (the expansion is output-sized — those rows are the
    required result either way). On graphs where hubs give many nodes
    the same neighborhood (leaf documents attached to the same entity
    set — the KG-projection case), the wedge fan-out drops by the
    squared collapse ratio; in the worst case (all neighborhoods
    distinct) every class is a singleton and the plan degenerates to the
    classic wedge join plus one extra adjacency-sized aggregation.
    ``max_degree`` still drops hub MIDPOINTS only (the filter runs on
    the exploded class-neighbor rows by the midpoint's own degree);
    member degrees are untouched. Strict-oracle-gated against the
    classic formulation's DuckDB replay in tests/test_walks.py.

    The edge list is localCheckpoint'ed first (eager): the plan
    references it twice (adjacency build + connected probe) and without
    the lineage cut Spark re-executes the caller's full upstream DAG per
    reference — the operators/components.py r4 lesson."""
    e = edges.select("src", "dst").transform(checkpoint)
    und = (e.select(F.col("src").alias("v"), F.col("dst").alias("n"))
           .unionAll(e.select(F.col("dst").alias("v"),
                              F.col("src").alias("n"))))
    # per-node sorted neighbor list; identical lists -> one class
    # (md5(to_json(...)) is an unambiguous array fingerprint)
    nbrs = (und.groupBy("v")
            .agg(F.sort_array(F.collect_list("n")).alias("ns"))
            .select("v", "ns", F.size("ns").alias("d"),
                    F.md5(F.to_json("ns")).alias("cid")))
    classes = (nbrs.groupBy("cid")
               .agg(F.sort_array(F.collect_list("v")).alias("mem"),
                    F.any_value("ns").alias("ns"),  # identical within class
                    F.any_value("d").alias("deg"))
               .transform(checkpoint))
    und_c = classes.select("cid", F.explode("ns").alias("x"))
    if max_degree is not None:
        degx = nbrs.select(F.col("v").alias("x"), F.col("d").alias("dx"))
        und_c = (und_c.join(degx, "x").filter(F.col("dx") <= max_degree)
                 .select("cid", "x"))
    a = und_c.select(F.col("cid").alias("ca"), "x")
    b = und_c.select(F.col("cid").alias("cb"), "x")
    # class-level wedge count: common(c1, c2) = sum over midpoints x of
    # mult_{c1}(x) * mult_{c2}(x) == the classic per-pair wedge count of
    # any (u in c1, w in c2); the (c, c) diagonal row carries the
    # within-class pair count the same way
    cpairs = (a.join(b, "x").filter(F.col("ca") <= F.col("cb"))
              .groupBy("ca", "cb")
              .agg(F.count("*").cast("long").alias("common"))
              .filter(F.col("common") >= min_common))
    meta_a = classes.select(F.col("cid").alias("ca"),
                            F.col("mem").alias("mem_a"),
                            F.col("deg").alias("da"))
    meta_b = classes.select(F.col("cid").alias("cb"),
                            F.col("mem").alias("mem_b"),
                            F.col("deg").alias("db"))
    cp = cpairs.join(meta_a, "ca").join(meta_b, "cb")
    # expansion: cross-class pairs orient per member pair (class order is
    # md5 order, not member order); within-class pairs are the sorted
    # member combinations (mem is sorted asc, so u < w by construction)
    diff = (cp.filter(F.col("ca") != F.col("cb"))
            .select("common", "da", "db", "mem_b",
                    F.explode("mem_a").alias("u0"))
            .select("common", "da", "db", "u0",
                    F.explode("mem_b").alias("w0"))
            .select(F.least("u0", "w0").alias("u"),
                    F.greatest("u0", "w0").alias("w"),
                    "common",
                    F.when(F.col("u0") < F.col("w0"), F.col("da"))
                    .otherwise(F.col("db")).alias("du"),
                    F.when(F.col("u0") < F.col("w0"), F.col("db"))
                    .otherwise(F.col("da")).alias("dw")))
    combos = F.flatten(F.transform(
        F.col("mem_a"),
        lambda x, i: F.transform(
            F.slice(F.col("mem_a"), i + F.lit(2), F.size(F.col("mem_a"))),
            lambda y: F.struct(x.alias("u"), y.alias("w")))))
    same = (cp.filter((F.col("ca") == F.col("cb"))
                      & (F.size("mem_a") >= 2))
            .select("common", "da", F.explode(combos).alias("p"))
            .select(F.col("p.u").alias("u"), F.col("p.w").alias("w"),
                    "common", F.col("da").alias("du"),
                    F.col("da").alias("dw")))
    allp = diff.unionByName(same)
    out = allp.join(
        e.select(F.col("src").alias("u"), F.col("dst").alias("w"),
                 F.lit(1).alias("_c")), ["u", "w"], "left")
    uni = F.col("du") + F.col("dw") - F.col("common")
    return out.select(
        "u", "w", "common",
        F.col("du").cast("long").alias("du"),
        F.col("dw").cast("long").alias("dw"),
        uni.cast("long").alias("uni"),
        (F.lit(100) * F.col("common") >= F.lit(min_jaccard_pct) * uni)
        .cast("long").alias("cand"),
        F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("connected"))


MERGE_CANDIDATES_SQL_TMPL = """
    with e as ({edges_sql}),
    und as (select src as v, dst as n from e
            union all
            select dst as v, src as n from e),
    deg as (select v, count(*) as d from und group by v),
    mid as (select und.v, und.n from und join deg using (v)
            {degree_filter}),
    pairs as (select a.n as u, b.n as w, count(*) as common
              from mid a join mid b on a.v = b.v and a.n < b.n
              group by 1, 2
              having count(*) >= {min_common})
    select p.u, p.w, cast(p.common as bigint) as common,
           cast(du.d as bigint) as du, cast(dw.d as bigint) as dw,
           cast(du.d + dw.d - p.common as bigint) as uni,
           cast(100 * p.common >= {min_jaccard_pct}
                * (du.d + dw.d - p.common) as bigint) as cand,
           cast(exists (select 1 from e
                        where e.src = p.u and e.dst = p.w) as bigint)
             as connected
    from pairs p
    join deg du on du.v = p.u
    join deg dw on dw.v = p.w"""


def merge_candidates_sql(edges_sql: str, min_jaccard_pct: int = 30,
                         max_degree: Optional[int] = None,
                         min_common: int = 2) -> str:
    """DuckDB replay of ``merge_candidates`` — the strict oracle twin."""
    degree_filter = f"where deg.d <= {max_degree}" if max_degree else ""
    return MERGE_CANDIDATES_SQL_TMPL.format(
        edges_sql=edges_sql, min_jaccard_pct=min_jaccard_pct,
        degree_filter=degree_filter, min_common=min_common)
