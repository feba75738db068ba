"""HyperBall (operators/hyperball.py).

Gates: (a) EXACT register parity — the propagated counter of every node
at every radius equals, register-for-register, the HLL sketch built
directly from that node's exact BFS ball (HLL merge exactness makes the
propagation bit-checkable; the only approximation in the operator is
the read-out estimator); (b) estimator accuracy — per-node ball-size
estimates within linear-counting tolerance of the exact ball sizes;
(c) harmonic centrality vs the exact BFS oracle; (d) convergence at the
graph diameter; (e) bitwise determinism across runs.
"""

import random

import pytest

from stackoverflowner_spark.operators.hyperball import (
    exact_harmonic, harmonic_centrality_est, hyperball, iterate_registers)
from stackoverflowner_spark.operators.sketch import hll_sketch
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-hyperball", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


def _random_digraph(n, m, seed):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(n)]
    edges = set()
    while len(edges) < m:
        s, d = rng.choice(nodes), rng.choice(nodes)
        if s != d:
            edges.add((s, d))
    return nodes, sorted(edges)


def _exact_balls(edges, direction="out"):
    """node -> {radius -> frozenset(ball members incl. self)} by BFS."""
    adj = {}
    nodes = set()
    for s, d in edges:
        a, z = (s, d) if direction == "out" else (d, s)
        adj.setdefault(a, set()).add(z)
        nodes.add(s)
        nodes.add(d)
    balls = {}
    for v in nodes:
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
        maxr = max(dist.values())
        balls[v] = {rr: frozenset(u for u, d in dist.items() if d <= rr)
                    for rr in range(maxr + 1)}
    return balls


def test_register_parity_vs_exact_balls(spark):
    """The heart of the operator: propagated registers at radius r ==
    hll_sketch of the exact BFS ball, bitwise, for every node/radius."""
    _, edges = _random_digraph(24, 40, seed=7)
    balls = _exact_balls(edges)
    maxr_seen = 0
    for r, regs in iterate_registers(_edges_df(spark, edges),
                                     max_radius=30, b=4):
        maxr_seen = max(maxr_seen, r)
        got = sorted((row.node, row.reg, row.rho) for row in regs.collect())
        members = [(v, u) for v, byr in balls.items()
                   for u in byr[min(r, max(byr))]]
        mdf = spark.createDataFrame(members, "node string, member string")
        want = sorted((row.node, row.reg, row.rho)
                      for row in hll_sketch(mdf, ["node"], "member",
                                            b=4).collect())
        assert got == want, f"register mismatch at radius {r}"
    assert maxr_seen >= 2  # the graph is not trivially flat


def test_convergence_at_diameter(spark):
    # chain a->b->c->d: balls complete at radius 3, iteration stops there
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    radii = [r for r, _ in iterate_registers(_edges_df(spark, edges),
                                             max_radius=30, b=8)]
    assert radii == [0, 1, 2, 3]


def test_ball_estimate_accuracy(spark):
    """Per-node estimates within linear-counting tolerance of exact ball
    sizes on a graph whose balls span 1..~60 nodes (b=8, m=256: the
    small-range regime the correction exists for)."""
    _, edges = _random_digraph(60, 150, seed=11)
    balls = _exact_balls(edges)
    out = hyperball(_edges_df(spark, edges), max_radius=30, b=8)
    rows = out.collect()
    errs = []
    for row in rows:
        byr = balls[row.node]
        true = len(byr[min(row.radius, max(byr))])
        errs.append(abs(row.est - true) / true)
    assert sum(errs) / len(errs) < 0.05  # mean rel err well under 5%
    assert max(errs) < 0.25


def test_harmonic_centrality_vs_exact(spark):
    _, edges = _random_digraph(50, 120, seed=5)
    est = {r.node: r.harmonic for r in harmonic_centrality_est(
        hyperball(_edges_df(spark, edges), max_radius=30, b=8)).collect()}
    true = exact_harmonic(edges, direction="out")
    errs = [abs(est[v] - t) / t for v, t in true.items() if t > 0]
    assert sum(errs) / len(errs) < 0.08
    # the centrality RANKING transfers: top-5 sets mostly agree
    top_true = {v for v, _ in sorted(true.items(), key=lambda kv: -kv[1])[:5]}
    top_est = {v for v, _ in sorted(est.items(), key=lambda kv: -kv[1])[:5]}
    assert len(top_true & top_est) >= 3


def test_direction_in(spark):
    # chain a->b->c: in-direction harmonic of c counts a (1/2) + b (1/1)
    edges = [("a", "b"), ("b", "c")]
    est = {r.node: r.harmonic for r in harmonic_centrality_est(
        hyperball(_edges_df(spark, edges), max_radius=5, b=8,
                  direction="in")).collect()}
    true = exact_harmonic(edges, direction="in")
    assert true == {"a": 0.0, "b": 1.0, "c": 1.5}
    for v, t in true.items():
        assert abs(est[v] - t) <= 0.05 * max(t, 1.0)


def test_deterministic_across_runs(spark):
    _, edges = _random_digraph(30, 60, seed=9)
    a = sorted(map(tuple, hyperball(_edges_df(spark, edges), max_radius=30,
                                    b=8).collect()))
    b_ = sorted(map(tuple, hyperball(_edges_df(spark, edges), max_radius=30,
                                     b=8).collect()))
    assert a == b_


# ---- effective diameter (r5o) ----
