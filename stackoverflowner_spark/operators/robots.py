"""robots.txt crawl-politeness filtering.

The legality gate every crawl pipeline runs before fetching or keeping
a page: given each host's robots.txt rules as (host, agent,
allow/disallow, path-prefix) rows, decide per URL whether the
configured agent may use it. Engine-beyond-reference surface in the
crawl family of operators/linkgraph.py / operators/crawldiff.py,
motivated by BASELINE.json's Common-Crawl-style input. Parsing the
robots.txt text into those rows is not implemented; the
``robots_filter`` driver entry derives its rule groups from the fixture.

Semantics (the RFC 9309 core, documented subset):

* agent is lowercased; kind is ``allow`` or ``disallow``. An empty rule
  path is a no-op per the RFC ("Disallow:" = allow all) and belongs
  nowhere in the rules frame.
* group selection per host: if any group names the target agent
  exactly (case-insensitive), ONLY those rules apply; otherwise the
  ``*`` groups apply; a host with no applicable rules allows everything.
* per-URL decision: the longest matching path prefix wins; on a
  length tie allow beats disallow; no matching rule means allowed.
* ``*``/``$`` wildcards are OUT of scope (documented: their regex
  translation is a cross-engine escaping hazard; the prefix core is
  what Common Crawl itself honors for the overwhelming rule majority).

Scale shape at 100 TB: robots rules are hosts-sized, never
corpus-sized. The per-host rules collapse to one array row per host and
ride a BROADCAST join onto the page scan; the longest-match pick is a
row-local ``array_max`` over the matching rules. Net: ONE corpus scan,
ZERO corpus shuffle, zero Python. Decision logic is pure string/integer
column expressions, so the match core is bitwise oracle-checkable
cross-engine (tests + the ``robots_filter`` driver entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.linkgraph import canonical_parts


def effective_rules(rules: DataFrame, agent: str) -> DataFrame:
    """The rules that bind ``agent`` per host: exact-agent groups if the
    host has any, else the ``*`` groups (RFC 9309 group selection).
    Output (host, kind, prefix) — hosts-sized, the broadcast side."""
    a = agent.lower()
    r = (rules.filter(F.col("agent").isin(a, "*"))
         .withColumn("spec", (F.col("agent") == a).cast("int")))
    best = r.groupBy("host").agg(F.max("spec").alias("best_spec"))
    return (r.join(best, "host")
            .filter(F.col("spec") == F.col("best_spec"))
            .select("host", "kind", "prefix"))


def robots_decide(pages: DataFrame, rules: DataFrame,
                  agent: str = "*") -> DataFrame:
    """pages + (host, path, allowed, rule_kind, rule_prefix): the
    longest-prefix decision per URL. ``rules`` is a 4-col
    (host, agent, kind, prefix) frame.

    Zero corpus shuffle: the per-host rules collapse to ONE array row
    per host (hosts-sized), ride a broadcast join, and the longest-
    match pick is a row-local ``array_max`` over the matching rules —
    struct comparison on (prefix length, allow-beats-disallow, kind,
    prefix) is field-ordered, so the winner is deterministic no matter
    how ``collect_list`` ordered the array."""
    eff = (effective_rules(rules, agent)
           .groupBy("host")
           .agg(F.collect_list(F.struct("kind", "prefix")).alias("_rules")))
    cp = canonical_parts("url")
    p = (pages.withColumn("_cp_host", cp["host"])
         .withColumn("_cp_path", cp["path"]))
    j = p.join(F.broadcast(eff), p["_cp_host"] == eff["host"], "left")
    path = F.col("_cp_path")
    hits = F.filter(F.coalesce(F.col("_rules"),
                               F.array().cast(
                                   "array<struct<kind:string,prefix:string>>")),
                    lambda r: path.startswith(r["prefix"]))
    best = F.array_max(F.transform(
        hits,
        lambda r: F.struct(
            F.length(r["prefix"]).alias("l"),
            (r["kind"] == "allow").cast("int").alias("a"),
            r["kind"].alias("kind"),
            r["prefix"].alias("prefix"))))
    j = j.withColumn("_best", best)
    allowed = F.when(F.col("_best").isNull(), F.lit(True)).otherwise(
        F.col("_best.kind") == "allow")
    return j.select(*pages.columns,
                    F.col("_cp_host").alias("host"),
                    F.col("_cp_path").alias("path"),
                    allowed.alias("allowed"),
                    F.col("_best.kind").alias("rule_kind"),
                    F.col("_best.prefix").alias("rule_prefix"))
