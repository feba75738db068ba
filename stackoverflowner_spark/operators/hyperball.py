"""HyperBall: HLL-counter propagation for ball sizes and approximate
harmonic centrality at graph scale.

The web-scale centrality algorithm (Boldi & Vigna, "In-Core Computation
of Geometric Centralities with HyperBall", 2013 — the method behind the
published Facebook four-degrees-of-separation measurement): give every
node an HLL counter seeded with itself, then iterate

    B_{t+1}(v)  =  B_t(v)  UNION  union over edges (v, w) of B_t(w)

so after t rounds ``|B_t(v)|`` estimates the number of nodes within
distance t of v — an all-sources BFS in O(diameter) rounds whose state
is O(nodes · m) counters instead of O(nodes^2) distances. From the
per-radius ball sizes follows, with no further graph work, **harmonic
centrality** H(v) = sum_{t>=1} (|B_t(v)| - |B_{t-1}(v)|)/t, the
principled centrality for disconnected/web graphs (unreachable nodes
contribute 0 instead of breaking the mean, as closeness does).

DataFrame realization: counters are the REGISTER TABLES of
``operators/sketch.py`` — (node, reg, rho) rows, md5-derived and
integer-exact — so counter union is exactly ``groupBy(node, reg) ->
max(rho)`` and one HyperBall round is one join (registers x edges) plus
one bounded aggregation. Registers only ever grow, so the fixed point
(no register changed) is detected by the exact pair (row count,
sum(rho)) — one cheap agg per round, no anti-join diffing.

Because HLL merge is exact (sketch(A ∪ B) == merge(sketch(A),
sketch(B)) register-for-register), the propagated counter of v at
radius t equals BITWISE the sketch you would build directly from the
exact BFS ball of v — which is this module's correctness gate
(tests/test_hyperball.py): no tolerance anywhere in the propagation,
the only approximation is HLL's own estimator at read-out time.

Estimator: the raw integer-exact z_num machinery of ``hll_estimate``,
plus Flajolet et al.'s linear-counting small-range correction
(m·ln(m/V) when the raw estimate <= 2.5m and V empty registers remain)
— balls START small (|B_0| = 1), so unlike the corpus-cardinality
sketches this surface lives mostly in the small-range regime. ln()
keeps a per-platform-deterministic double; there is no cross-engine
oracle here (the gate is exact register parity + accuracy vs exact
BFS), so the cross-engine-bitwise discipline of sketch.py is not needed
for the read-out.

Scale shape per round: the propagation join shuffles O(edges · m_occ)
register rows (m_occ <= m = 2^b, the counter width), and the merge's
map-side combine bounds the post-shuffle state at O(nodes · m). The
b knob trades accuracy for that constant factor (b=8 -> 6.5% rse at
256 regs/node; b=6 -> 13% at 64 — the published HyperBall runs use
4-7 bits/register at billions of nodes). ``localCheckpoint`` per round
cuts the iterative lineage (the components/pagerank discipline).

Reference parity note: the reference has no graph analytics; this is
engine-beyond-reference surface (SURVEY §2.9 class), sized for ranking
entities/hosts of the materialized KG by reachability centrality.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import checkpoint
from .sketch import RHO_MAX, estimate_constant, rho_column


def _dense_estimate(dense: DataFrame, b: int) -> DataFrame:
    """Per-node ball-size estimate -> (node, est double), row-local over
    the dense counter rows (node, regs array<int>[m], 0 = empty
    register): no groupBy at all. Raw HLL harmonic estimate with the
    linear-counting small-range correction (the regime balls start in).
    An empty register's z term is shiftleft(1, RHO_MAX - 0), the
    2^RHO_MAX every empty register adds to the harmonic sum, so one
    aggregate fold over the array IS the exact integer z_num."""
    m = 1 << b
    c = estimate_constant(b)
    z_num = F.expr(
        f"aggregate(regs, 0L, (acc, x) -> acc + shiftleft(1L, {RHO_MAX} - x))")
    zeros = F.size(F.filter("regs", lambda x: x == 0)).cast("long")
    raw = F.lit(c) / z_num.cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((zeros > 0) & (raw <= F.lit(2.5 * m)), lc).otherwise(raw)
    return dense.select("node", est.alias("est"))


def hyperball(edges: DataFrame, max_radius: int = 16, b: int = 8,
              direction: str = "out") -> DataFrame:
    """-> (node, radius int, est double): estimated ball size |B_r(node)|
    for every node and every radius 0..R, where R is the convergence
    radius (all balls complete — the graph's effective diameter) or
    ``max_radius``, whichever is smaller.

    ``direction="out"``: B_r(v) = nodes reachable FROM v within r hops
    following src->dst edges. ``direction="in"``: nodes that can REACH v
    — the side classic centrality rankings want (incoming authority).

    Estimates are monotone nondecreasing in r per node (registers only
    grow and the estimator is monotone in the registers), so downstream
    deltas are nonnegative by construction. Runs on the dense counter
    representation (see ``_iterate_dense``), so each radius's estimate is
    a row-local fold — no per-radius aggregation jobs.
    """
    est_tables: List[DataFrame] = [
        _dense_estimate(dense, b).select("node", F.lit(r).alias("radius"),
                                         "est")
        for r, dense in _iterate_dense(edges, max_radius, b, direction)]
    out = est_tables[0]
    for t in est_tables[1:]:
        out = out.unionByName(t)
    return out


def iterate_registers(edges: DataFrame, max_radius: int, b: int):
    """Yield (radius, register-table) per HyperBall round, starting at
    radius 0 (each node's own sketch) and stopping at the exact fixed
    point (no register changed) or ``max_radius``. The per-radius
    register tables are BITWISE equal to ``hll_sketch`` of each node's
    exact BFS ball (HLL merge is exact) — the property
    tests/test_hyperball.py gates. Thin sparse view over the dense
    iteration: one posexplode + empty-register filter per yield."""
    for r, dense in _iterate_dense(edges, max_radius, b):
        rows = (dense.select("node", F.posexplode("regs")
                             .alias("reg", "rho"))
                .filter(F.col("rho") > 0))
        yield r, rows


def _iterate_dense(edges: DataFrame, max_radius: int, b: int,
                   direction: str = "out"):
    """Yield (radius, dense counter table (node, regs array<int>[m])) per
    HyperBall round — ``regs[i]`` is register i's rho, 0 when empty.

    One dense row per node instead of one row per occupied register cuts
    the per-round shuffle to O(nodes) rows (the merge is m parallel
    max() aggregates, partial-agg friendly) — the in-core counter-array
    layout of the published HyperBall, kept exactly register-compatible
    with ``hll_sketch`` (the sparse view is the bitwise-gated contract).
    Convergence: registers only grow, so the (present count, rho sum)
    pair is a sound fixed-point signature, computed as one tiny agg over
    the checkpointed round state."""
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction!r}")
    m = 1 << b
    e = edges.select(F.col("src").cast("string").alias("src"),
                     F.col("dst").cast("string").alias("dst"))
    if direction == "in":
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    e = checkpoint(e.filter(F.col("src") != F.col("dst")).distinct())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    h = F.md5(F.col("node").cast("string"))
    reg0 = F.conv(F.substring(h, 1, b // 4), 16, 10).cast("int")
    rho0 = rho_column(h, b)
    init = F.transform(F.sequence(F.lit(0), F.lit(m - 1)),
                       lambda i: F.when(i == reg0, rho0)
                       .otherwise(F.lit(0)))

    # convergence signature (present count, rho sum) rides an observe()
    # on the SAME job that materializes the round's checkpoint — zero
    # extra jobs per round (the one-pass curation_report discipline)
    from pyspark.sql import Observation

    def _checkpointed_with_sig(d):
        obs = Observation()
        d = d.observe(
            obs,
            F.sum(F.size(F.filter("regs", lambda x: x > 0)))
            .alias("present"),
            F.sum(F.expr("aggregate(regs, 0L, (acc, x) -> acc + x)"))
            .alias("rhosum"))
        ck = checkpoint(d)  # eager: fires the observation
        got = obs.get
        return ck, (got["present"], got["rhosum"])

    dense, state = _checkpointed_with_sig(
        nodes.select("node", init.alias("regs")))
    yield 0, dense

    # unpack -> m max() aggregates -> repack: elementwise register max
    # with ordinary partial aggregation (no per-node buffering)
    unpacked = [F.element_at("regs", i + 1).alias(f"_r{i}")
                for i in range(m)]
    maxes = [F.max(f"_r{i}").alias(f"_r{i}") for i in range(m)]

    for r in range(1, max_radius + 1):
        prop = (dense.join(e, dense.node == e.dst)
                .select(F.col("src").alias("node"), "regs"))
        # aggregate ONLY the propagated rows (edge-sized before the
        # map-side combine), then fold them into the carried node state
        # with a node-keyed left join — the old union+groupBy pushed the
        # full O(nodes) state back through the exchange every round
        # (guide §2.4 exchange reuse: dense leaves each round hash-
        # partitioned on node and re-enters the next round's joins on
        # node). zip_with/greatest over int registers is the identical
        # elementwise max — bitwise-equal state per round.
        agg = (prop.select("node", *unpacked)
               .groupBy("node").agg(*maxes)
               .select("node", F.array(*[F.col(f"_r{i}") for i in range(m)])
                       .alias("pregs")))
        merged = (dense.join(agg, "node", "left")
                  .select("node",
                          F.when(F.col("pregs").isNull(), F.col("regs"))
                          .otherwise(F.zip_with("regs", "pregs",
                                                lambda a, b: F.greatest(a, b)))
                          .alias("regs")))
        dense, new_state = _checkpointed_with_sig(merged)
        if new_state == state:  # exact fixed point: no register changed
            break
        state = new_state
        yield r, dense


def harmonic_centrality_est(balls: DataFrame) -> DataFrame:
    """-> (node, harmonic double): H(v) = sum_{r>=1} (|B_r|-|B_{r-1}|)/r
    from the hyperball per-radius estimates — nodes first reached at
    distance r contribute 1/r. A converged ball stops emitting rows, so
    the lag window treats its last radius as final (later deltas are 0).

    Pair with ``hyperball(edges, direction="in")`` for the classic
    "how centrally reachable is v" ranking."""
    from pyspark.sql import Window
    w = Window.partitionBy("node").orderBy("radius")
    delta = F.col("est") - F.lag("est", 1).over(w)
    per = (balls.withColumn("delta", delta)
           .filter(F.col("radius") >= 1)
           # estimator monotonicity guarantees delta >= 0; clamp guards
           # float dust at the linear-counting -> raw handover
           .withColumn("delta", F.greatest(F.col("delta"), F.lit(0.0))))
    return (per.groupBy("node")
            .agg(F.sum(F.col("delta") / F.col("radius").cast("double"))
                 .alias("harmonic")))


def exact_harmonic(edges: List[Tuple[str, str]],
                   direction: str = "out") -> dict:
    """Exact harmonic centrality by BFS over an in-memory edge list —
    the test oracle (driver-side, test-scale only)."""
    adj: dict = {}
    nodes = set()
    for s, d in edges:
        if s == d:
            continue
        a, z = (s, d) if direction == "out" else (d, s)
        adj.setdefault(a, set()).add(z)
        nodes.add(s)
        nodes.add(d)
    out = {}
    for v in sorted(nodes):
        dist = {v: 0}
        frontier = [v]
        r = 0
        while frontier:
            r += 1
            nxt = []
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in dist:
                        dist[w] = r
                        nxt.append(w)
            frontier = nxt
        out[v] = sum(1.0 / d for u, d in dist.items() if d > 0)
    return out
