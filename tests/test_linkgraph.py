"""URL canonicalization + link-graph build: planted specimens, plan
shape, and the strict driver-criterion oracle gate for the ``link_graph``
entry.

Cross-engine bitwise parity of the canonicalizer itself is the driver
oracle (``link_graph`` replays the full policy in DuckDB over derived
messy URLs); these tests pin the POLICY on hand-written specimens.
"""

import pytest

from stackoverflowner_spark.operators.linkgraph import (canonicalize_url,
                                                        link_graph)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-linkgraph", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


CANON_CASES = [
    # case/port/slashes/fragment/tracking/sorting all at once
    ("HTTPS://WWW.Example.COM:443//a//b/?utm_source=x&b=2&a=1#frag",
     "https://www.example.com/a/b?a=1&b=2"),
    ("http://Ex.com:80/p/", "http://ex.com/p"),
    # non-default port kept; every tracking family dropped
    ("http://ex.com:8080/p?ref=rss&z=9&fbclid=abc&gclid=1&msclkid=2",
     "http://ex.com:8080/p?z=9"),
    # trailing host dot, slash runs
    ("https://ex.com.///x///y//", "https://ex.com/x/y"),
    # empty path -> '/'; empty params dropped
    ("https://ex.com", "https://ex.com/"),
    ("https://ex.com/?&&a=1&", "https://ex.com/?a=1"),
    # params sorted bytewise (duplicates kept, order-normalized)
    ("http://ex.com/a?b=2&a=1&b=1", "http://ex.com/a?a=1&b=1&b=2"),
    # whitespace trim + fragment with '#' inside
    ("  https://Trail.Example.org/path#a#b  ",
     "https://trail.example.org/path"),
    # '?' inside a query value stays (only the FIRST '?' splits)
    ("https://ex.com/index.html?a=?&b=1", "https://ex.com/index.html?a=?&b=1"),
    # policy: dot segments NOT resolved (documented non-goal)
    ("http://ex.com/a/b/../c", "http://ex.com/a/b/../c"),
    # invalid -> NULL
    ("ftp://ex.com/a", None),
    ("not a url", None),
    ("http://", None),
    ("", None),
]


def test_canonicalize_specimens(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CANON_CASES)],
                               "i long, u string")
    got = {r.i: r.c for r in
           df.select("i", canonicalize_url("u").alias("c")).collect()}
    for i, (u, want) in enumerate(CANON_CASES):
        assert got[i] == want, (u, got[i], want)


def test_canonical_is_idempotent(spark):
    df = spark.createDataFrame(
        [(u,) for u, want in CANON_CASES if want is not None], "u string")
    out = df.select(canonicalize_url("u").alias("c1")).select(
        "c1", canonicalize_url("c1").alias("c2")).collect()
    for r in out:
        assert r.c1 == r.c2


def test_link_graph_distinct_and_self_loops(spark):
    e = spark.createDataFrame(
        [("http://A.com/x", "http://b.com/y"),
         ("http://a.com//x", "http://B.com/y"),     # same edge after canon
         ("http://a.com/x", "http://a.com/x#f")],   # self after canon
        "src string, dst string")
    e = e.select(canonicalize_url("src").alias("src"),
                 canonicalize_url("dst").alias("dst"))
    g = link_graph(e).collect()
    assert len(g) == 1
    assert g[0].src_host == "a.com" and g[0].dst_host == "b.com"


def test_pure_columnar_plan(spark):
    """Canonicalization is a single JVM Project (whole-stage codegen);
    the graph build adds only the distinct's Exchange — no Python
    anywhere."""
    df = spark.createDataFrame([("http://a.com/x", "http://b.com/y")],
                               "src string, dst string")
    canon = df.select(canonicalize_url("src").alias("src"),
                      canonicalize_url("dst").alias("dst"))
    plan = canon._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
    gplan = link_graph(canon)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in gplan and "MapInPandas" not in gplan


def test_driver_oracle_strict(spark):
    """Reproduce the driver's bitwise criterion for the new entry."""
    from tests.oracle_harness import load_entry, run_all
    res = run_all(spark, SF, only=["link_graph"], strict=True)
    assert res["link_graph"] == [], res["link_graph"]
    # non-vacuous: multiple src hosts, both port variants present
    mod = load_entry()
    g = mod.q_link_graph(spark, SF)
    hosts = {r.dst_host for r in g.select("dst_host").distinct().collect()}
    assert any(":" in h for h in hosts) and any(":" not in h for h in hosts)
