"""robots.txt decide: RFC 9309 group selection and longest-match
semantics, the zero-corpus-shuffle plan gate, and the strict
driver-criterion oracle gate for the ``robots_filter`` entry.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.robots import (
    effective_rules, robots_decide)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-robots", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


ROBOTS_TXT = """# site robots
User-agent: *
Disallow: /private/
Allow: /private/ok   # inline comment
Crawl-delay: 10

User-agent: KGBot
User-agent: OtherBot
Disallow: /kg/
Disallow:

Sitemap: https://ex.com/sitemap.xml
"""


    # empty Disallow (RFC no-op), Crawl-delay and Sitemap all dropped


def test_group_selection(spark):
    rows = [("a.com", "*", "disallow", "/x"),
            ("a.com", "kgbot", "disallow", "/y"),
            ("b.com", "*", "disallow", "/z"),
            ("b.com", "weirdbot", "disallow", "/w")]
    rules = spark.createDataFrame(
        rows, "host string, agent string, kind string, prefix string")
    eff = {(r.host, r.kind, r.prefix)
           for r in effective_rules(rules, "KGBot").collect()}
    # a.com has an exact kgbot group -> '*' suppressed there;
    # b.com has none -> '*' applies; weirdbot's group never applies
    assert eff == {("a.com", "disallow", "/y"), ("b.com", "disallow", "/z")}


def _decide(spark, rules_rows, urls, agent="*"):
    rules = spark.createDataFrame(
        rules_rows, "host string, agent string, kind string, prefix string")
    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r.url: r for r in
            robots_decide(pages, rules, agent=agent).collect()}


def test_longest_match_and_tie(spark):
    rules = [("ex.com", "*", "disallow", "/a"),
             ("ex.com", "*", "allow", "/a/b"),
             ("ex.com", "*", "allow", "/t"),
             ("ex.com", "*", "disallow", "/t")]
    got = _decide(spark, rules, [
        "https://ex.com/a/x",     # /a disallow
        "https://ex.com/a/b/x",   # /a/b allow out-ranks /a (longer)
        "https://ex.com/t/x",     # same-length tie -> allow wins
        "https://ex.com/free",    # no rule -> allowed
        "https://other.com/a/x",  # host without rules -> allowed
    ])
    assert not got["https://ex.com/a/x"].allowed
    assert got["https://ex.com/a/b/x"].allowed
    assert got["https://ex.com/t/x"].allowed
    assert got["https://ex.com/free"].allowed
    assert got["https://other.com/a/x"].allowed
    assert got["https://ex.com/a/b/x"].rule_prefix == "/a/b"
    assert got["https://ex.com/free"].rule_kind is None


def test_zero_corpus_shuffle_plan(spark):
    """The page side must reach the BroadcastHashJoin without any
    Exchange (the rules side may aggregate — it is hosts-sized)."""
    rules = spark.createDataFrame(
        [("ex.com", "*", "disallow", "/no")],
        "host string, agent string, kind string, prefix string")
    pages = (spark.read.parquet(f"{SF}/documents.parquet")
             .select(F.concat(F.lit("https://ex.com/d/"),
                              F.col("doc_id").cast("string")).alias("url")))
    plan = (robots_decide(pages, rules)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan
    lines = plan.splitlines()
    scan_idx = [i for i, l in enumerate(lines)
                if "FileScan" in l and "documents" in l]
    assert scan_idx
    join_idx = max(i for i, l in enumerate(lines)
                   if "BroadcastHashJoin" in l)
    for l in lines[join_idx + 1:scan_idx[0]]:
        # everything between the join and the corpus scan on the streamed
        # side must be exchange-free (broadcast subtree lines contain
        # BroadcastExchange — allow that, it is the hosts-sized build)
        if "BroadcastExchange" in l or "BroadcastQueryStage" in l:
            continue
        assert "Exchange hashpartitioning" not in l, plan


def test_driver_oracle_strict(spark):
    """Reproduce the driver's bitwise criterion for the new entry and
    assert every decision class is populated."""
    from tests.oracle_harness import load_entry, run_all
    res = run_all(spark, SF, only=["robots_filter"], strict=True)
    assert res["robots_filter"] == [], res["robots_filter"]
    mod = load_entry()
    cls = {(r.allowed, r.rule_prefix) for r in
           mod.q_robots_filter(spark, SF)
           .select("allowed", "rule_prefix").distinct().collect()}
    assert (0, "/d/1") in cls     # '*' disallow
    assert (0, "/d/4") in cls     # kgbot group override
    assert (1, "/d/12") in cls    # longest-match re-allow
    assert (1, "/d/2") in cls     # same-length tie -> allow
    assert (1, None) in cls       # default allow
