"""PageRank gates: numpy power-iteration parity, analytic closed
forms, mass conservation, and the KG entity wrapper."""

import random
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.pagerank import (
    entity_pagerank, pagerank)
from stackoverflowner_spark.session import get_spark

D = 0.85


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-pagerank", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def np_pagerank(edges, iterations=20, damping=D):
    """Dense reference with the identical convention (distinct edges,
    uniform teleport, dangling mass redistributed uniformly)."""
    eset = set(edges)
    nodes = sorted({x for e in eset for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    out = defaultdict(list)
    for s, t in sorted(eset):
        out[s].append(t)
    n = len(nodes)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        dangling = 0.0
        for v in nodes:
            if out[v]:
                w = r[idx[v]] / len(out[v])
                for t in out[v]:
                    contrib[idx[t]] += w
            else:
                dangling += r[idx[v]]
        r = (1 - damping) / n + damping * dangling / n + damping * contrib
    return dict(zip(nodes, r))


def _spark_ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.rank for r in pagerank(df, **kw).collect()}


def test_cycle_stays_uniform(spark):
    n = 7
    edges = [(f"n{i}", f"n{(i + 1) % n}") for i in range(n)]
    got = _spark_ranks(spark, edges, iterations=10)
    for v in got.values():
        assert abs(v - 1 / n) < 1e-12


def test_star_analytic(spark):
    # leaves -> center; center dangles. Closed form at the fixed point:
    # solve the 2-variable system for (center c, leaf l), n = k+1 nodes:
    #   l = (1-d)/n + d*c/n          (teleport + center's dangling share
    #                                  + its own dangling share excluded:
    #                                  leaves have out-edges)
    # wait — leaves are non-dangling, center is dangling:
    #   c = (1-d)/n + d*c/n + d*k*l  (dangling mass is c itself)
    #   l = (1-d)/n + d*c/n
    k, iters = 4, 40
    edges = [(f"l{i}", "c") for i in range(k)]
    n = k + 1
    got = _spark_ranks(spark, edges, iterations=iters)
    l = got["l0"]
    c_expect = ((1 - D) / n + D * k * ((1 - D) / n)) / \
        (1 - D / n - D * D * k / n)
    l_expect = (1 - D) / n + D * c_expect / n
    # power iteration contracts at ~damping per step: 40 steps ≈ 1e-6 here
    assert abs(got["c"] - c_expect) < 1e-5
    for i in range(k):
        assert abs(got[f"l{i}"] - l_expect) < 1e-5
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_random_graph_matches_numpy(spark):
    rng = random.Random(7)
    nodes = [f"v{i}" for i in range(60)]
    edges = sorted({(rng.choice(nodes), rng.choice(nodes))
                    for _ in range(300)})
    got = _spark_ranks(spark, edges, iterations=12)
    ref = np_pagerank(edges, iterations=12)
    assert set(got) == set(ref)
    tv = sum(abs(got[v] - ref[v]) for v in got)
    assert tv < 1e-9, tv
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_multi_edges_collapse(spark):
    edges = [("a", "b"), ("a", "b"), ("b", "a")]
    got = _spark_ranks(spark, edges, iterations=15)
    ref = np_pagerank([("a", "b"), ("b", "a")], iterations=15)
    assert abs(got["a"] - ref["a"]) < 1e-12


def test_entity_pagerank_over_triples(spark):
    triples = spark.createDataFrame(
        [("pandas", "alias_of", "soft:pandas", "u1"),
         ("soft:pandas", "instance_of", "Library", "u1"),
         ("np", "alias_of", "soft:numpy", "u2"),
         ("soft:numpy", "instance_of", "Library", "u2"),
         ("soft:pandas", "mentioned_in", "u1", "u1")],
        "subj string, pred string, obj string, url string")
    got = {r.node: r.rank
           for r in entity_pagerank(triples, iterations=15).collect()}
    # mentioned_in must be excluded: no url node in the graph
    assert "u1" not in got
    # the shared type sink accumulates the most mass
    assert got["Library"] == max(got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-9
