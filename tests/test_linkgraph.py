"""URL canonicalization + link-graph extraction: planted specimens,
href resolution, host rollup -> pagerank wiring, plan shape, and the
strict driver-criterion oracle gate for the ``link_graph`` entry.

Cross-engine bitwise parity of the canonicalizer itself is the driver
oracle (``link_graph`` replays the full policy in DuckDB over derived
messy URLs); these tests pin the POLICY on hand-written specimens.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.linkgraph import (
    anchor_dictionary, canonicalize_url, extract_anchors, extract_hrefs,
    host_graph, host_of, incremental_link_graph, link_graph, page_links)
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


HTML = """
<html><body>
<a href="https://Other.COM/x?utm_source=z&k=1">abs</a>
<a href='//cdn.example.com/lib.js'>proto-rel</a>
<a href="/root//page/#top">root-rel</a>
<a href="sibling.html">rel</a>
<a href="#frag">frag-only</a>
<a href="javascript:void(0)">js</a>
<a href="mailto:a@b.com">mail</a>
<a href = "spaced.html">spaced eq</a>
</body></html>
"""


def test_extract_and_resolve(spark):
    df = spark.createDataFrame(
        [("https://Ex.com:443/dir/page.html?b=1&utm_x=1", HTML)],
        "url string, html string")
    got = sorted(r.dst for r in page_links(df, html_col="html").collect())
    assert got == sorted([
        "https://other.com/x?k=1",
        "https://cdn.example.com/lib.js",     # inherits the base scheme
        "https://ex.com/root/page",           # origin + root-rel, canon'd
        "https://ex.com/dir/sibling.html",    # base directory + rel
        "https://ex.com/dir/spaced.html",     # href = "..." spacing
    ])
    # and src is the canonical base
    srcs = {r.src for r in page_links(df, html_col="html").collect()}
    assert srcs == {"https://ex.com/dir/page.html?b=1"}


def test_extract_hrefs_both_quote_styles(spark):
    df = spark.createDataFrame([("x", HTML)], "url string, html string")
    n = df.select(F.size(extract_hrefs("html")).alias("n")).first().n
    assert n == 8  # every planted href found, quoted either way


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


def test_host_graph_feeds_pagerank(spark):
    from stackoverflowner_spark.operators.pagerank import pagerank
    e = spark.createDataFrame(
        [("http://a.com/1", "http://b.com/1"),
         ("http://a.com/2", "http://b.com/2"),
         ("http://b.com/1", "http://c.com/1"),
         ("http://c.com/9", "http://a.com/1")],
        "src string, dst string")
    hg = host_graph(link_graph(e))
    w = {(r.src_host, r.dst_host): r.weight for r in hg.collect()}
    assert w[("a.com", "b.com")] == 2 and w[("b.com", "c.com")] == 1
    ranks = pagerank(hg.select(F.col("src_host").alias("src"),
                               F.col("dst_host").alias("dst")),
                     iterations=10)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9


ANCHOR_HTML = """
<p><a href="https://pypi.org/project/NumPy/?utm_source=x">NumPy</a>
is great, so is <a href='/wiki/Apache_Spark'>  Apache
Spark </a>. <a href="https://ex.com/b"><b>bold</b> anchor skipped</a>
<a href="#top">here</a> <a href="https://ex.com/c">click here</a>
<a href="https://pypi.org/project/numpy">numpy</a></p>
"""


def test_extract_anchors(spark):
    df = spark.createDataFrame([("https://host.com/dir/p.html", ANCHOR_HTML)],
                               "url string, html string")
    got = {(r.dst, r.anchor) for r in extract_anchors(df).collect()}
    # markup anchor and fragment-only dropped; anchor text case+ws
    # normalized; URL paths keep their case (only scheme/host fold)
    assert got == {
        ("https://pypi.org/project/NumPy", "numpy"),
        ("https://host.com/wiki/Apache_Spark", "apache spark"),
        ("https://ex.com/c", "click here"),
        ("https://pypi.org/project/numpy", "numpy"),
    }
    # every surviving src is the canonical base
    assert {r.src for r in extract_anchors(df).collect()} == {
        "https://host.com/dir/p.html"}


def test_anchor_dictionary(spark):
    rows = [("s", "https://t.com/numpy", "numpy"),
            ("s", "https://t.com/numpy", "numpy"),
            ("s", "https://t.com/numpy", "np"),
            ("s", "https://t.com/other", "numpy"),
            ("s", "https://t.com/x", "click here")]
    a = spark.createDataFrame(rows, "src string, dst string, anchor string")
    d = {(r.alias_norm, r.dst): r.weight for r in anchor_dictionary(a).collect()}
    assert d == {("numpy", "https://t.com/numpy"): 2,
                 ("np", "https://t.com/numpy"): 1,
                 ("numpy", "https://t.com/other"): 1}  # stoplist dropped


def _page(url, links):
    html = "".join(f'<a href="{l}">x</a>' for l in links)
    return (url, html)


def test_incremental_link_graph_equals_full(spark):
    a_rows = [_page("http://s.com/1", ["http://t.com/a", "http://t.com/b"]),
              _page("http://s.com/2", ["http://t.com/c"]),
              _page("http://s.com/3", ["http://t.com/d"])]
    # crawl B: page1 unchanged, page2 changed, page3 removed, page4 added
    b_rows = [a_rows[0],
              _page("http://s.com/2", ["http://t.com/z"]),
              _page("http://s.com/4", ["http://t.com/e"])]
    pa = spark.createDataFrame(a_rows, "url string, html string")
    pb = spark.createDataFrame(b_rows, "url string, html string")
    old_edges = page_links(pa, html_col="html")
    inc = incremental_link_graph(old_edges, pa, pb, html_col="html")
    full = link_graph(page_links(pb, html_col="html"))
    assert sorted(map(tuple, inc.collect())) == \
        sorted(map(tuple, full.collect()))
    # and the delta really is incremental: page1's edges were carried,
    # not re-extracted (work-list = changed+added only)
    from stackoverflowner_spark.operators.crawldiff import (
        changed_or_added, snapshot_delta)
    fa = pa.select("url", F.md5("html").alias("fp"))
    fb = pb.select("url", F.md5("html").alias("fp"))
    todo = changed_or_added(snapshot_delta(fa, fb, ["url"], "fp"),
                            pb, ["url"])
    assert {r.url for r in todo.collect()} == \
        {"http://s.com/2", "http://s.com/4"}


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
    from tests.oracle_harness import run_all
    res = run_all(spark, SF, only=["link_graph"], strict=True)
    assert res["link_graph"] == [], res["link_graph"]
    # non-vacuous: multiple src hosts, both port variants present
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entrymod", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    g = mod.q_link_graph(spark, SF)
    hosts = {r.dst_host for r in g.select("dst_host").distinct().collect()}
    assert any(":" in h for h in hosts) and any(":" not in h for h in hosts)
