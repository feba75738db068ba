"""Graph-algorithm gates: triangle counts, BFS distances, and weighted
SSSP vs local brute force; exactly-once triangle enumeration; partition
invariance; radius-bound semantics."""

import heapq
import random
from collections import defaultdict, deque

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.graphalgo import (
    bfs_distances, kcore, triangle_count, weighted_sssp)
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-graphalgo", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _random_graph(n=60, m=220, seed=7):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def _brute_triangles(edges):
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    per = defaultdict(int)
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[a] & adj[b]:
                if c > b:
                    per[a] += 1
                    per[b] += 1
                    per[c] += 1
    return dict(per)


def _brute_bfs(edges, seeds):
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        x = q.popleft()
        for y in adj[x]:
            if y not in dist:
                dist[y] = dist[x] + 1
                q.append(y)
    return dist


def test_triangles_match_brute_force(spark):
    edges = _random_graph()
    sdf = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.tri for r in triangle_count(sdf).collect()}
    assert got == _brute_triangles(edges)


def test_triangles_exactly_once(spark):
    # duplicate edges, both directions, self loops — canonicalization
    # must collapse them; sum of per-node counts is 3 * total triangles
    tri = [(1, 2), (2, 3), (3, 1)]
    noisy = tri + [(2, 1), (3, 2), (1, 1), (2, 3), (1, 3)]
    sdf = spark.createDataFrame(noisy, "src int, dst int")
    got = {r.node: r.tri for r in triangle_count(sdf).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangles_none_on_tree(spark):
    sdf = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                "src int, dst int")
    assert triangle_count(sdf).count() == 0


def test_triangles_partition_invariant(spark):
    edges = _random_graph(seed=11)
    a = spark.createDataFrame(edges, "src int, dst int")
    b = spark.createDataFrame(list(reversed(edges)),
                              "src int, dst int").repartition(7)
    ga = sorted((r.node, r.tri) for r in triangle_count(a).collect())
    gb = sorted((r.node, r.tri) for r in triangle_count(b).collect())
    assert ga == gb


def test_bfs_matches_brute_force(spark):
    edges = _random_graph(n=80, m=140, seed=3)  # sparse -> wider radius
    seeds = [0, 41]
    sdf = spark.createDataFrame(edges, "src int, dst int")
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node int")
    got = {r.node: r.dist for r in bfs_distances(sdf, seed_df).collect()}
    assert got == _brute_bfs(edges, seeds)


def test_bfs_unreachable_absent_and_radius_bound(spark):
    edges = [(0, 1), (1, 2), (2, 3), (10, 11)]  # two components
    sdf = spark.createDataFrame(edges, "src int, dst int")
    seed_df = spark.createDataFrame([(0,)], "node int")
    got = {r.node: r.dist for r in bfs_distances(sdf, seed_df).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    capped = {r.node: r.dist
              for r in bfs_distances(sdf, seed_df, max_iter=2).collect()}
    assert capped == {0: 0, 1: 1, 2: 2}


def _random_weighted(n=60, m=200, wmax=5, seed=13):
    rng = random.Random(seed)
    edges = {}
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b and (a, b) not in edges:
            edges[(a, b)] = rng.randint(1, wmax)
    return [(a, b, w) for (a, b), w in sorted(edges.items())]


def _dijkstra(edges, seeds, max_cost):
    adj = defaultdict(list)
    for a, b, w in edges:
        adj[a].append((b, w))
    dist = {}
    heap = [(0, s) for s in seeds]
    while heap:
        c, x = heapq.heappop(heap)
        if x in dist or c > max_cost:
            continue
        dist[x] = c
        for y, w in adj[x]:
            if y not in dist and c + w <= max_cost:
                heapq.heappush(heap, (c + w, y))
    return dist


def test_sssp_matches_dijkstra(spark):
    edges = _random_weighted()
    seeds = [0, 17]
    sdf = spark.createDataFrame(edges, "src int, dst int, w int")
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node int")
    got = {r.node: r.cost
           for r in weighted_sssp(sdf, seed_df, max_cost=10 ** 6).collect()}
    assert got == _dijkstra(edges, seeds, 10 ** 6)


def test_sssp_cost_bound_is_semantic(spark):
    # 0 -1-> 1 -1-> 2 -5-> 3: bound 2 reaches node 2, never node 3
    edges = [(0, 1, 1), (1, 2, 1), (2, 3, 5)]
    sdf = spark.createDataFrame(edges, "src int, dst int, w int")
    seed_df = spark.createDataFrame([(0,)], "node int")
    got = {r.node: r.cost
           for r in weighted_sssp(sdf, seed_df, max_cost=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_sssp_prefers_cheap_long_path(spark):
    # direct hop costs 9; the three-hop detour costs 3 — Bellman-Ford's
    # later iterations must overwrite the earlier tentative cost
    edges = [(0, 3, 9), (0, 1, 1), (1, 2, 1), (2, 3, 1)]
    sdf = spark.createDataFrame(edges, "src int, dst int, w int")
    seed_df = spark.createDataFrame([(0,)], "node int")
    got = {r.node: r.cost
           for r in weighted_sssp(sdf, seed_df, max_cost=100).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_multi_edge_takes_min_and_directed(spark):
    # parallel edges collapse to min weight; direction is respected
    edges = [(0, 1, 7), (0, 1, 2), (2, 0, 1)]
    sdf = spark.createDataFrame(edges, "src int, dst int, w int")
    seed_df = spark.createDataFrame([(0,)], "node int")
    got = {r.node: r.cost
           for r in weighted_sssp(sdf, seed_df, max_cost=100).collect()}
    assert got == {0: 0, 1: 2}  # node 2 unreachable from 0 (edge is 2->0)


def _brute_kcore(edges, k):
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(adj)
    while True:
        drop = {n for n in alive
                if len(adj[n] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {n: len(adj[n] & alive) for n in alive}


def _kcore_spark(spark, edges, k):
    sdf = spark.createDataFrame(edges, "src int, dst int")
    return {r.node: r.deg for r in kcore(sdf, k).collect()}


def test_kcore_triangle_survives_tail_pruned(spark):
    # triangle 1-2-3 plus a pendant path 3-4-5: 2-core = the triangle
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    assert _kcore_spark(spark, edges, 2) == {1: 2, 2: 2, 3: 2}


def test_kcore_cascade_empties_path(spark):
    # peeling must CASCADE: every path endpoint removal exposes the next
    edges = [(i, i + 1) for i in range(10)]
    assert _kcore_spark(spark, edges, 2) == {}


def test_kcore_clique(spark):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    assert _kcore_spark(spark, edges, 4) == {n: 4 for n in range(5)}
    assert _kcore_spark(spark, edges, 5) == {}


def test_kcore_matches_brute_force(spark):
    edges = _random_graph(n=50, m=140, seed=23)
    for k in (2, 3, 4):
        assert _kcore_spark(spark, edges, k) == _brute_kcore(edges, k)


@pytest.fixture(scope="module")
def cli_analytics(spark, tmp_path_factory):
    """One ``run_pipeline --analytics`` run shared by the CLI tests:
    (analytics dir, the stats line's ``analytics`` object)."""
    import contextlib
    import io
    import json
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from run_pipeline import main

    tmp = tmp_path_factory.mktemp("cli_analytics")
    out, ana = str(tmp / "out"), str(tmp / "ana")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--synth", "200", "--mode", "fused", "--tagger",
                   "gazetteer", "--out", out, "--analytics", ana])
    assert rc == 0
    lines = [json.loads(x) for x in buf.getvalue().strip().splitlines()
             if x.startswith("{")]
    return ana, next(l["analytics"] for l in lines if "analytics" in l)


def test_cli_analytics_flag(spark, cli_analytics):
    """run_pipeline --analytics emits pagerank/triangles/kcore parquet
    over the produced KG's entity edges."""
    ana, stats = cli_analytics
    assert stats["edges"] > 0 and stats["pagerank_rows"] > 0
    pr = spark.read.parquet(ana + "/pagerank")
    assert pr.count() == stats["pagerank_rows"]
    assert spark.read.parquet(ana + "/kcore2").count() == \
        stats["kcore2_nodes"]
    n_comm = (spark.read.parquet(ana + "/communities")
              .select("community").distinct().count())
    assert stats["communities"] == n_comm and n_comm > 0
    bc = spark.read.parquet(ana + "/betweenness")
    assert bc.count() == stats["betweenness_rows"] > 0
    assert bc.columns == ["node", "bc"]
    assert isinstance(stats["modularity"], float)
    assert -0.5 <= stats["modularity"] <= 1.0  # Newman Q's range


# ---------------------------------------------------------------- LPA --- #

def _brute_lpa(edges, max_iter=10):
    """Reference synchronous LPA with the operator's exact semantics."""
    from collections import Counter
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nbrs = defaultdict(set)
    for u, v in und:
        nbrs[u].add(v)
        nbrs[v].add(u)
    lab = {n: n for n in nbrs}
    for _ in range(max_iter):
        new = {}
        for n in nbrs:
            cnt = Counter(lab[m] for m in nbrs[n])
            new[n] = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        changed = new != lab
        lab = new
        if not changed:
            break
    return lab


def _lpa_spark(spark, edges, max_iter=10):
    from stackoverflowner_spark.operators.graphalgo import lpa_communities
    df = spark.createDataFrame(list(edges), "src long, dst long")
    return {r.node: r.community
            for r in lpa_communities(df, max_iter=max_iter).collect()}


def test_lpa_two_cliques_bridge(spark):
    clique1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    got = _lpa_spark(spark, clique1 + clique2 + [(4, 5)])
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert {got[n] for n in (5, 6, 7, 8)} == {5}


def test_lpa_matches_brute_force(spark):
    edges = _random_graph(n=40, m=90, seed=31)
    assert _lpa_spark(spark, edges) == _brute_lpa(edges)
    edges2 = _random_graph(n=50, m=60, seed=47)  # sparse, many comps
    assert _lpa_spark(spark, edges2) == _brute_lpa(edges2)


def test_lpa_bipartite_oscillation_bounded(spark):
    # K2: labels swap forever under synchronous updates; max_iter bounds
    # it and parity holds at any cutoff
    edges = [(1, 2)]
    for it in (1, 2, 3, 4):
        assert _lpa_spark(spark, edges, max_iter=it) == \
            _brute_lpa(edges, max_iter=it)


def test_cli_analytics_emits_harmonic(spark, cli_analytics):
    """--analytics also writes the HyperBall harmonic-centrality table
    (one row per entity-graph node, nonnegative scores)."""
    ana, stats = cli_analytics
    h = spark.read.parquet(ana + "/harmonic")
    assert h.count() == stats["harmonic_rows"] > 0
    assert h.filter("harmonic < 0").count() == 0


# ---- betweenness centrality (r5o) ----

def _brute_betweenness(edges, sources=None):
    """Textbook Brandes (2001): exact betweenness, undirected, with the
    same /2 double-count convention as the operator."""
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    nodes = sorted(adj)
    bc = dict.fromkeys(nodes, 0.0)
    for s in (nodes if sources is None else sources):
        if s not in adj:
            continue
        stack, preds = [], defaultdict(list)
        sigma = dict.fromkeys(nodes, 0)
        sigma[s] = 1
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = dict.fromkeys(nodes, 0.0)
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {n: b / 2.0 for n, b in bc.items()}


def _bc_df(spark, edges):
    from stackoverflowner_spark.operators.graphalgo import betweenness
    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string")
    return {r.node: r.bc for r in betweenness(df).collect()}


def test_betweenness_path_graph(spark):
    got = _bc_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == pytest.approx({"a": 0.0, "b": 2.0, "c": 2.0, "d": 0.0})


def test_betweenness_star_center(spark):
    n = 7
    got = _bc_df(spark, [("hub", f"leaf{i}") for i in range(n)])
    assert got["hub"] == pytest.approx(n * (n - 1) / 2.0)
    assert all(got[f"leaf{i}"] == pytest.approx(0.0) for i in range(n))


def test_betweenness_matches_brute_force(spark):
    edges = _random_graph(n=40, m=90, seed=13)
    want = _brute_betweenness(edges)
    got = _bc_df(spark, edges)
    assert set(got) == set(str(n) for n in want)
    for n, b in want.items():
        assert got[str(n)] == pytest.approx(b, rel=1e-9, abs=1e-9), n


def test_betweenness_disconnected_components(spark):
    # two separate paths: dependencies never cross components
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z")]
    got = _bc_df(spark, edges)
    assert got == pytest.approx(
        {"a": 0.0, "b": 1.0, "c": 0.0, "x": 0.0, "y": 1.0, "z": 0.0})


def test_betweenness_sampled_pivots_match_brute(spark):
    from stackoverflowner_spark.operators.graphalgo import betweenness
    edges = _random_graph(n=30, m=70, seed=5)
    srcs = ["0", "3", "7", "11", "19"]
    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string")
    sdf = spark.createDataFrame([(s,) for s in srcs], "node string")
    got = {r.node: r.bc for r in betweenness(df, sources=sdf).collect()}
    want = _brute_betweenness(edges, sources=[int(s) for s in srcs])
    for n, b in want.items():
        if str(n) in got:
            assert got[str(n)] == pytest.approx(b, rel=1e-9, abs=1e-9), n
        else:
            assert b == pytest.approx(0.0)


def test_betweenness_scale_with_all_pivots_is_exact(spark):
    from stackoverflowner_spark.operators.graphalgo import betweenness
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    allnodes = spark.createDataFrame(
        [(n,) for n in "abcd"], "node string")
    exact = {r.node: r.bc for r in betweenness(df).collect()}
    scaled = {r.node: r.bc
              for r in betweenness(df, sources=allnodes,
                                   scale=True).collect()}
    assert scaled == pytest.approx(exact)


def test_sample_pivots_deterministic_and_bounded(spark):
    from stackoverflowner_spark.operators.graphalgo import sample_pivots
    edges = _random_graph(n=25, m=60, seed=3)
    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string")
    a = [r.node for r in sample_pivots(df, 6).collect()]
    b = [r.node for r in sample_pivots(df.repartition(7), 6).collect()]
    assert a == b and len(a) == 6
    big = [r.node for r in sample_pivots(df, 10_000).collect()]
    assert len(big) == len({str(u) for u, _ in edges}
                           | {str(v) for _, v in edges})


# ---- modularity + k-truss (r5o) ----

def _brute_modularity(edges, labels):
    """Textbook Q via exact fractions."""
    from fractions import Fraction
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    m = len(und)
    if m == 0:
        return 0.0
    lab = dict(labels)
    deg = defaultdict(int)
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    com = lambda n: lab.get(n, n)  # noqa: E731
    e_c = defaultdict(int)
    for u, v in und:
        if com(u) == com(v):
            e_c[com(u)] += 1
    d_c = defaultdict(int)
    for n, d in deg.items():
        d_c[com(n)] += d
    q = sum((Fraction(e_c[c], m) - Fraction(d_c[c], 2 * m) ** 2
             for c in d_c), Fraction(0))
    return float(q)


def test_modularity_single_community_is_zero(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = spark.createDataFrame([(n, "one") for n in "abcd"],
                                "node string, community string")
    from stackoverflowner_spark.operators.graphalgo import modularity
    row = modularity(df, lab).collect()[0]
    assert row.m == 4 and row.communities == 1 and row.q == 0.0


def test_modularity_two_cliques_with_bridge(spark):
    from stackoverflowner_spark.operators.graphalgo import (lpa_communities,
                                                            modularity)
    edges = ([("a" + str(i), "a" + str(j))
              for i in range(4) for j in range(i + 1, 4)]
             + [("b" + str(i), "b" + str(j))
                for i in range(4) for j in range(i + 1, 4)]
             + [("a0", "b0")])
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = lpa_communities(df)
    row = modularity(df, lab).collect()[0]
    want = _brute_modularity(
        edges, [(r.node, r.community) for r in lab.collect()])
    assert row.q == pytest.approx(want, abs=1e-12)
    assert row.q > 0.3  # two dense blocks: clearly modular


def test_modularity_missing_labels_are_singletons(spark):
    from stackoverflowner_spark.operators.graphalgo import modularity
    edges = [("a", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = spark.createDataFrame([("a", "g1"), ("b", "g1")],
                                "node string, community string")
    row = modularity(df, lab).collect()[0]
    want = _brute_modularity(edges, [("a", "g1"), ("b", "g1")])
    assert row.q == pytest.approx(want, abs=1e-15)
    assert row.communities == 2  # g1 + singleton c


def test_modularity_duckdb_bitwise_oracle(spark):
    import duckdb
    from stackoverflowner_spark.operators.graphalgo import (lpa_communities,
                                                            modularity)
    edges = _random_graph(n=30, m=70, seed=21)
    sedges = [(str(u), str(v)) for u, v in edges]
    df = spark.createDataFrame(sedges, "src string, dst string")
    lab = lpa_communities(df)
    got = modularity(df, lab).collect()[0]

    con = duckdb.connect()
    con.execute("create table e (src varchar, dst varchar)")
    con.executemany("insert into e values (?, ?)", sedges)
    con.execute("create table l (node varchar, community varchar)")
    con.executemany("insert into l values (?, ?)",
                    [(r.node, r.community) for r in lab.collect()])
    want = con.execute("""
        with und as (select distinct least(src, dst) as u,
                                     greatest(src, dst) as v
                     from e where src <> dst),
        mm as (select count(*) as m from und),
        tagged as (select coalesce(lu.community, und.u) as cu,
                          coalesce(lv.community, und.v) as cv
                   from und
                   left join l lu on lu.node = und.u
                   left join l lv on lv.node = und.v),
        ec as (select cu as community, count(*) as e_in
               from tagged where cu = cv group by cu),
        deg as (select n, count(*) as d from
                (select u as n from und union all select v from und)
                group by n),
        dc as (select coalesce(l.community, deg.n) as community,
                      sum(d) as d_sum
               from deg left join l on l.node = deg.n group by 1),
        per as (select dc.community, coalesce(e_in, 0) as e_in, d_sum
                from dc left join ec using (community))
        select (select m from mm) as m,
               count(*) as communities,
               cast(sum(4 * (select m from mm) * e_in - d_sum * d_sum)
                    as double)
                 / cast(4 * (select m from mm) * (select m from mm)
                        as double) as q
        from per""").fetchone()
    assert (got.m, got.communities) == (want[0], want[1])
    assert got.q == want[2]  # bitwise: exact integer fold, one division


def _brute_ktruss(edges, k):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj = defaultdict(set)
        for u, v in und:
            adj[u].add(v)
            adj[v].add(u)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in und}
        bad = {e for e, s in sup.items() if s < k - 2}
        if not bad:
            return sup
        und -= bad


def _ktruss_spark(spark, edges, k):
    from stackoverflowner_spark.operators.graphalgo import ktruss
    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string")
    return {(r.u, r.v): r.support for r in ktruss(df, k).collect()}


def test_ktruss_triangle_is_3truss(spark):
    got = _ktruss_spark(spark, [("a", "b"), ("b", "c"), ("a", "c")], 3)
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}


def test_ktruss_tree_empty_at_3(spark):
    got = _ktruss_spark(spark, [("a", "b"), ("b", "c"), ("c", "d")], 3)
    assert got == {}


def test_ktruss_clique_k5(spark):
    edges = [(f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)]
    got = _ktruss_spark(spark, edges, 5)
    assert len(got) == 10 and set(got.values()) == {3}
    assert _ktruss_spark(spark, edges, 6) == {}


def test_ktruss_matches_brute_force(spark):
    edges = _random_graph(n=25, m=90, seed=9)
    for k in (3, 4):
        # the operator canonicalizes pairs as STRINGS (least/greatest),
        # the brute force as ints — compare under one key convention
        want = {tuple(sorted((str(u), str(v)))): s
                for (u, v), s in _brute_ktruss(edges, k).items()}
        got = _ktruss_spark(spark, edges, k)
        assert got == want, k


def test_ktruss_inside_kminus1_core(spark):
    # classic containment: the k-truss is a subgraph of the (k-1)-core
    from stackoverflowner_spark.operators.graphalgo import kcore, ktruss
    edges = _random_graph(n=30, m=110, seed=17)
    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string")
    truss_nodes = {x for r in ktruss(df, 4).collect() for x in (r.u, r.v)}
    core_nodes = {r.node for r in kcore(df, 3).collect()}
    assert truss_nodes <= core_nodes


def _brute_modularity_w(wedges, labels):
    """Weighted Q via exact fractions; wedges = [(u, v, w)]."""
    from fractions import Fraction
    agg = defaultdict(int)
    for u, v, w in wedges:
        if u != v:
            agg[tuple(sorted((u, v)))] += w
    m = sum(agg.values())
    if m == 0:
        return 0.0
    lab = dict(labels)
    com = lambda n: lab.get(n, n)  # noqa: E731
    strength = defaultdict(int)
    e_c = defaultdict(int)
    for (u, v), w in agg.items():
        strength[u] += w
        strength[v] += w
        if com(u) == com(v):
            e_c[com(u)] += w
    d_c = defaultdict(int)
    for n, d in strength.items():
        d_c[com(n)] += d
    return float(sum((Fraction(e_c[c], m) - Fraction(d_c[c], 2 * m) ** 2
                      for c in d_c), Fraction(0)))


def test_modularity_weighted_matches_fraction_brute(spark):
    from stackoverflowner_spark.operators.graphalgo import modularity
    rng = random.Random(41)
    wedges = sorted({(f"n{rng.randrange(20)}", f"n{rng.randrange(20)}")
                     for _ in range(50)})
    wedges = [(u, v, rng.randint(1, 9)) for u, v in wedges if u != v]
    labels = [(f"n{i}", f"g{i % 3}") for i in range(20)]
    df = spark.createDataFrame(wedges, "src string, dst string, w long")
    lab = spark.createDataFrame(labels, "node string, community string")
    row = modularity(df, lab, weight_col="w").collect()[0]
    want = _brute_modularity_w(wedges, labels)
    assert row.q == pytest.approx(want, abs=1e-12)
    assert row.m == sum(w for _, _, w in wedges)  # total weight


def test_modularity_weighted_unit_weights_equal_unweighted(spark):
    from stackoverflowner_spark.operators.graphalgo import (lpa_communities,
                                                            modularity)
    edges = _random_graph(n=20, m=40, seed=8)
    sedges = [(str(u), str(v)) for u, v in edges]
    df = spark.createDataFrame(sedges, "src string, dst string")
    dfw = spark.createDataFrame([(u, v, 1) for u, v in sedges],
                                "src string, dst string, w long")
    lab = lpa_communities(df)
    a = modularity(df, lab).collect()[0]
    b = modularity(dfw, lab, weight_col="w").collect()[0]
    assert (a.m, a.communities, a.q) == (b.m, b.communities, b.q)


def test_modularity_weighted_parallel_edges_sum(spark):
    from stackoverflowner_spark.operators.graphalgo import modularity
    # (a,b) asserted both directions with weights 2 and 3 -> one edge w=5
    df = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 3), ("b", "c", 1)],
        "src string, dst string, w long")
    lab = spark.createDataFrame([("a", "g"), ("b", "g"), ("c", "h")],
                                "node string, community string")
    row = modularity(df, lab, weight_col="w").collect()[0]
    want = _brute_modularity_w(
        [("a", "b", 5), ("b", "c", 1)], [("a", "g"), ("b", "g"), ("c", "h")])
    assert row.m == 6 and row.q == pytest.approx(want, abs=1e-15)


def test_betweenness_batched_equals_single_batch(spark):
    from stackoverflowner_spark.operators.graphalgo import (
        betweenness, betweenness_batched, sample_pivots)
    edges = _random_graph(n=30, m=70, seed=29)
    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string")
    one = {r.node: r.bc
           for r in betweenness(df, sources=sample_pivots(df, 9)).collect()}
    many = {r.node: r.bc
            for r in betweenness_batched(df, k=9, batch=2).collect()}
    assert set(one) == set(many)
    for n in one:
        assert many[n] == pytest.approx(one[n], rel=1e-12, abs=1e-12)


def test_betweenness_batched_scale_uses_full_k(spark):
    from stackoverflowner_spark.operators.graphalgo import (
        betweenness, betweenness_batched, sample_pivots)
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    scaled_one = {r.node: r.bc for r in betweenness(
        df, sources=sample_pivots(df, 3), scale=True).collect()}
    scaled_many = {r.node: r.bc for r in betweenness_batched(
        df, k=3, batch=1, scale=True).collect()}
    assert scaled_many == pytest.approx(scaled_one)


# ---- greedy modularity refinement (r5o) ----

def _brute_delta_best(edges, labels, node):
    """Exact best single-move gain for one node via Fractions."""
    from fractions import Fraction
    base = _brute_modularity(edges, list(labels.items()))
    best = (Fraction(0), labels[node])
    nbr_comms = set()
    for u, v in edges:
        if u == node:
            nbr_comms.add(labels.get(v, v))
        if v == node:
            nbr_comms.add(labels.get(u, u))
    for c in sorted(nbr_comms, key=str):
        if c == labels[node]:
            continue
        trial = dict(labels)
        trial[node] = c
        gain = Fraction(_brute_modularity(
            edges, list(trial.items()))).limit_denominator(10**15) \
            - Fraction(base).limit_denominator(10**15)
        if gain > best[0]:
            best = (gain, c)
    return best


def test_refine_fixes_mislabeled_node(spark):
    from stackoverflowner_spark.operators.graphalgo import (
        modularity, refine_communities)
    # two 4-cliques + bridge; a0 deliberately mislabeled into B
    edges = ([("a%d" % i, "a%d" % j) for i in range(4)
              for j in range(i + 1, 4)]
             + [("b%d" % i, "b%d" % j) for i in range(4)
                for j in range(i + 1, 4)]
             + [("a0", "b0")])
    df = spark.createDataFrame(edges, "src string, dst string")
    wrong = spark.createDataFrame(
        [("a0", "B")] + [("a%d" % i, "A") for i in range(1, 4)]
        + [("b%d" % i, "B") for i in range(4)],
        "node string, community string")
    fixed = refine_communities(df, wrong)
    got = {r.node: r.community for r in fixed.collect()}
    assert got["a0"] == "A"
    q_before = modularity(df, wrong).collect()[0].q
    q_after = modularity(df, fixed).collect()[0].q
    assert q_after > q_before


def test_refine_optimal_partition_is_fixpoint(spark):
    from stackoverflowner_spark.operators.graphalgo import refine_communities
    edges = ([("a%d" % i, "a%d" % j) for i in range(4)
              for j in range(i + 1, 4)]
             + [("b%d" % i, "b%d" % j) for i in range(4)
                for j in range(i + 1, 4)]
             + [("a0", "b0")])
    df = spark.createDataFrame(edges, "src string, dst string")
    good = spark.createDataFrame(
        [("a%d" % i, "A") for i in range(4)]
        + [("b%d" % i, "B") for i in range(4)],
        "node string, community string")
    out = {(r.node, r.community)
           for r in refine_communities(df, good).collect()}
    assert out == {(r.node, r.community) for r in good.collect()}


def test_refine_never_decreases_q(spark):
    from stackoverflowner_spark.operators.graphalgo import (
        lpa_communities, modularity, refine_communities)
    for seed in (3, 19):
        edges = _random_graph(n=24, m=60, seed=seed)
        df = spark.createDataFrame(
            [(str(u), str(v)) for u, v in edges], "src string, dst string")
        lab = lpa_communities(df)
        ref = refine_communities(df, lab, max_rounds=3)
        q0 = modularity(df, lab).collect()[0].q
        q1 = modularity(df, ref).collect()[0].q
        assert q1 >= q0, seed


def test_refine_partition_invariant(spark):
    from stackoverflowner_spark.operators.graphalgo import (
        lpa_communities, refine_communities)
    edges = _random_graph(n=20, m=45, seed=6)
    sedges = [(str(u), str(v)) for u, v in edges]
    a = spark.createDataFrame(sedges, "src string, dst string")
    b = spark.createDataFrame(list(reversed(sedges)),
                              "src string, dst string").repartition(7)
    la = refine_communities(a, lpa_communities(a))
    lb = refine_communities(b, lpa_communities(b))
    assert sorted(map(tuple, la.collect())) == sorted(map(tuple,
                                                          lb.collect()))


def test_refine_gain_formula_matches_fractions(spark):
    # the exact-integer gain must pick the same move the Fraction-exact
    # single-move search picks (strictly-positive-gain case)
    from stackoverflowner_spark.operators.graphalgo import refine_communities
    edges = [("x", "a1"), ("x", "a2"), ("a1", "a2"),
             ("x", "b1"), ("b1", "b2")]
    labels = {"x": "B", "a1": "A", "a2": "A", "b1": "B", "b2": "B"}
    gain, comm = _brute_delta_best(edges, labels, "x")
    assert gain > 0 and comm == "A"
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = spark.createDataFrame(list(labels.items()),
                                "node string, community string")
    out = {r.node: r.community
           for r in refine_communities(df, lab, max_rounds=1).collect()}
    assert out["x"] == "A"


def test_refine_weighted_uses_weights(spark):
    # x has 2 plain edges into A-clique and 1 HEAVY edge (w=10) to B:
    # unweighted refinement pulls x to A, weighted keeps/pulls it to B
    from stackoverflowner_spark.operators.graphalgo import (
        modularity, refine_communities)
    wedges = [("x", "a1", 1), ("x", "a2", 1), ("a1", "a2", 5),
              ("x", "b1", 10), ("b1", "b2", 5)]
    df = spark.createDataFrame(wedges, "src string, dst string, w long")
    lab = spark.createDataFrame(
        [("x", "A"), ("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B")],
        "node string, community string")
    out = {r.node: r.community
           for r in refine_communities(df, lab, weight_col="w").collect()}
    assert out["x"] == "B"
    q0 = modularity(df, lab, weight_col="w").collect()[0].q
    q1 = modularity(
        df, spark.createDataFrame(list(out.items()),
                                  "node string, community string"),
        weight_col="w").collect()[0].q
    assert q1 > q0
    # the unweighted reading of the same topology keeps x in A
    # (2 edges to A vs 1 to B)
    plain = {r.node: r.community
             for r in refine_communities(
                 df.select("src", "dst"), lab).collect()}
    assert plain["x"] == "A"


# ---- contraction + full Louvain (r5o) ----

def test_contract_preserves_q_exactly(spark):
    # Q(original, labels) == Q(contracted, identity) bit for bit —
    # the self-loop reading makes contraction lossless for modularity
    from stackoverflowner_spark.operators.graphalgo import (
        contract_graph, lpa_communities, modularity)
    edges = _random_graph(n=24, m=55, seed=12)
    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string")
    lab = lpa_communities(df)
    q_orig = modularity(df, lab).collect()[0]
    cg = contract_graph(df, lab)
    ident = (cg.select(F.col("src").alias("node"))
             .unionAll(cg.select(F.col("dst").alias("node"))).distinct()
             .withColumn("community", F.col("node")))
    q_con = modularity(cg, ident, weight_col="w").collect()[0]
    assert q_orig.m == q_con.m
    assert q_orig.q == q_con.q  # bitwise


def test_contract_sums_and_loops(spark):
    from stackoverflowner_spark.operators.graphalgo import contract_graph
    edges = [("a1", "a2"), ("a2", "a3"), ("a1", "b1"), ("a2", "b1"),
             ("b1", "b2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("a3", "A"), ("b1", "B"), ("b2", "B")],
        "node string, community string")
    got = {(r.src, r.dst): r.w for r in contract_graph(df, lab).collect()}
    assert got == {("A", "A"): 2, ("B", "B"): 1, ("A", "B"): 2}


def test_louvain_two_blocks(spark):
    from stackoverflowner_spark.operators.graphalgo import louvain
    edges = ([("a%d" % i, "a%d" % j) for i in range(5)
              for j in range(i + 1, 5)]
             + [("b%d" % i, "b%d" % j) for i in range(5)
                for j in range(i + 1, 5)]
             + [("a0", "b0")])
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = {r.node: r.community for r in louvain(df).collect()}
    a_comms = {lab["a%d" % i] for i in range(5)}
    b_comms = {lab["b%d" % i] for i in range(5)}
    assert len(a_comms) == 1 and len(b_comms) == 1
    assert a_comms != b_comms


def test_louvain_q_at_least_refined_lpa(spark):
    from stackoverflowner_spark.operators.graphalgo import (
        louvain, lpa_communities, modularity, refine_communities)
    for seed in (4, 23):
        edges = _random_graph(n=28, m=64, seed=seed)
        df = spark.createDataFrame(
            [(str(u), str(v)) for u, v in edges], "src string, dst string")
        base = refine_communities(df, lpa_communities(df))
        q_base = modularity(df, base).collect()[0].q
        q_lv = modularity(df, louvain(df).select("node", "community")
                          ).collect()[0].q
        assert q_lv >= q_base, seed


def test_louvain_partition_invariant(spark):
    from stackoverflowner_spark.operators.graphalgo import louvain
    edges = _random_graph(n=22, m=50, seed=31)
    sedges = [(str(u), str(v)) for u, v in edges]
    a = spark.createDataFrame(sedges, "src string, dst string")
    b = spark.createDataFrame(list(reversed(sedges)),
                              "src string, dst string").repartition(5)
    la = sorted(map(tuple, louvain(a).collect()))
    lb = sorted(map(tuple, louvain(b).collect()))
    assert la == lb
