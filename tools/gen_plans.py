#!/usr/bin/env python3
"""Regenerate PLANS.md from live `.explain("formatted")` output."""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADERS = {
    "flagship": """## 1. Flagship fused pipeline (pages parquet -> triples)

Checklist:
* `PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]` — the language filter
  reaches the parquet scan; at 10^12 docs this prunes ~40% of bytes before
  any Python runs.
* `ReadSchema` lists only `url, html, text, lang` — `warc_ts` never read.
* exactly ONE `MapInPandas` (the fused document kernel) — the triple
  materialization is an `explode`, NOT a union of projections (a union made
  Catalyst re-run the Python kernel once per arm; fixed in
  operators/triples.py).
* exactly ONE `BroadcastHashJoin ... BuildRight` on `alias_norm` — zero
  shuffle on the (skewed) mention stream; the dictionary side is the
  `link_score >= 0.99` rows of the precomputed scores.
* the dictionary is a driver-local relation, so its filter and projection
  fold into one `LocalTableScan` at planning — no `Scan ExistingRDD`, and
  no op starts a Python job to re-read it.
* no `ArrowEvalPython` anywhere: the link score is a dictionary column
  computed when the dictionary is built, so no Python runs after the kernel.
* the only `Exchange` belongs to the evidence-triple `distinct`
  (`HashAggregate` pair, partial map-side).
* all of these are GATED in `tests/test_plan_gates.py` against
  `queryExecution().executedPlan()` at HEAD, so this dossier can no longer
  drift from the executed plan (the r4 staleness defect).
""",
    "salted": """## 2. Salted link join (dictionary too large to broadcast)

Checklist: dictionary replicated via `explode(sequence(0, S-1))`; shuffled
hash join on `(surface_norm, salt)` spreads head aliases over S reducers;
AQE skew join stays on as backstop.
""",
    "q1": """## 3. TPC-H Q1-style aggregation (pure JVM path)

Checklist: date filter in `PushedFilters`, two-phase `HashAggregate` around
one Exchange, whole-stage codegen throughout. The scan reads the splittable
fixture copy (sources/fixtures.py): NO repartition Exchange after the scan —
the r3 `_t()` RDD-probe rebalance is gone from measured plans.
""",
    "minhash": """## 4. MinHash signatures (dedup scale path)

Checklist: shingling + seed explosion stay JVM-side (`Generate` nodes, no
Python); the only shuffle is `HashAggregate(min(h))` on (doc_id, seed) —
shuffle volume O(docs x k), independent of document length.
""",
    "simhash_pairs": """## 6. SimHash Hamming pairs (banded near-dup)

Checklist: fingerprint construction is one `HashAggregate` pair (64 bit-sum
columns) on doc_id; banding is a `Generate` (explode), the candidate join is
a bucket equi-join on (band, block) — sum-of-bucket^2 candidates, never
corpus^2 — and the popcount verify is JVM higher-order functions, no Python
anywhere.
""",
    "decontam": """## 7. Benchmark decontamination (8-gram overlap)

Checklist: the corpus-side `Generate explode` of the per-doc gram array
feeds a `BroadcastHashJoin` directly — NO Exchange touches the exploded
corpus stream (gated in tests/test_decontam.py). The only Exchanges are
benchmark-sized (gram distinct) or hit-sized (per-doc countDistinct), and
the hit counts come back to the corpus via a second broadcast join.
""",
    "asof": """## 8. As-of join (union-merge temporal join)

Checklist: NO join node anywhere — the probe and build legs meet in a
`Union`, and the match is a `Window` (`last(..., ignorenulls)` ordered by
(ts, side)) partitioned by the key. Exactly two Exchanges: the build-side
(key, ts) dedupe window and the (key) merge window. An inequality join
formulation would show BroadcastNestedLoopJoin here — quadratic per key.
Gated in tests/test_asof_range_delta.py.
""",
    "range_join": """## 9. Keyless range join (bin-bucketed point-in-interval)

Checklist: the inequality predicate never reaches the join operator as its
ONLY condition — intervals `Generate explode(sequence(...))` to fixed-width
bins and the join is an ordinary shuffled equi-join on the bin with the
exact containment as a post-filter; NO BroadcastNestedLoopJoin/
CartesianProduct node (gated). Shuffle volume O(points + intervals x
bins_per_interval).
""",
    "substrdedup": """## 10. Winnowed substring-dedup candidates (ExactSubstr scale path)

Checklist: window hashing and winnowing fingerprint selection happen
ROW-LOCALLY in one `Project` (`transform`/`array_min` higher-order
expressions — no Python, no explode of raw windows); only the selected
~2/(w+1) fingerprints `Generate explode`, so the shuffle is
fingerprint-sized, not window-sized. The candidate pairing is a bucketed
self-equi-join on the fingerprint — NO CartesianProduct/NestedLoop node
(gated in tests/test_substrdedup.py).
""",
    "fuzzy": """## 11. FastSS fuzzy alias join (deletion-neighborhood blocking)

Checklist: both sides expand to deletion variants in a row-local
`Generate explode` over a `transform` expression (no Python), candidates
meet in a shuffled equi-join ON THE VARIANT — no
CartesianProduct/NestedLoop anywhere (the brute-force cross join this
operator is bitwise-equal to never appears in the plan; gated in
tests/test_fuzzylink.py) — and the exact `levenshtein` verify is a plain
JVM `Filter` after the join.
""",
    "bgp": """## 12. SPARQL-style BGP query (kg_bgp driver entry)

Checklist: each triple pattern is its own scan of the triple table with the
literal terms as `Filter`s ABOVE the shared source (`pred = instance_of` /
`pred = mentioned_in` visible per branch — on a parquet/Iceberg triple
table these land in `PushedFilters`); patterns meet in equi-joins on the
shared variables only — NO CartesianProduct/BroadcastNestedLoopJoin node
(guarded at the API level AND gated in tests/test_kgquery.py); AQE picks
broadcast for branches a selective literal collapses.
""",
    "merge_cand": """## 13. Neighborhood-Jaccard merge candidates (walks.merge_candidates)

Checklist: the wedge join is an equi-join ON THE MIDPOINT node — NO
CartesianProduct/NestedLoop node (the all-pairs formulation never
appears); one `HashAggregate` pair around the (u, w) Exchange counts
common neighbors; degree joins are broadcast-eligible (degree table is
node-sized); the Jaccard rational and threshold flag are pure JVM
integer `Project` expressions — no Python anywhere.
""",
    "walk_step": """## 14. Random-walk step (walks.random_walks, one iteration)

Checklist: each step is an equi-join frontier.node = adjacency.v with
the md5 pick as a JVM `Filter` (`conv(substring(md5(...)))` — visible in
the plan, no Python worker anywhere); the frontier side is
constant-size (walks), the adjacency side is built once per corpus and
reused every step (bucketed by v on a cluster -> co-located step
joins). In the shipped operator each step is `localCheckpoint`ed so the
iterative lineage stays bounded; this section shows one step WITHOUT
the checkpoint so the join shape is visible.
""",
    "n2v_step": """## 15. node2vec biased-walk step (walks.node2vec_walks, one iteration)

Checklist: the second-order step is TWO equi-joins — frontier.node =
adjacency.v (candidates) and the left probe (prev, candidate) =
adjacency (the is-near flag) — plus two per-walk `Window`s (integer
total + running cumulative weight) and a JVM integer filter for the
draw; NO CartesianProduct/NestedLoop, no Python anywhere. The windows
partition by walk_id, so their state is one walk's candidate list
(bounded by max degree), never corpus-wide.
""",
    "bc_level": """## 16. Brandes betweenness forward level (graphalgo.betweenness, one BFS level)

Checklist: the whole pivot batch advances in ONE exchange — the
frontier joins the symmetrized edges on node = a, then ONE
(s, node)-keyed partial-agg sum of sigma, then the visited anti-join
on the same key. K pivots multiply ROWS inside the same jobs, never
the job count; no Python, no CartesianProduct, no SinglePartition
exchange.
""",
    "shacl": """## 17. SHACL shape validation (validate.shacl_validate)

Checklist: the shapes table rides a BroadcastExchange (ontology-sized
build side); focus selection and the cardinality/value checks shuffle
ONLY on the focus entity; zero Python operators, no
CartesianProduct/NestedLoop, and the instance_of projection is a
pushed scan filter.
""",
    "rank": """## 5. Two-pass word-mapping ids (partitioned_rank)

Checklist: NO `Exchange SinglePartition` anywhere (the r02 scale flag) —
the plan shows `Exchange rangepartitioning(freq DESC, word ASC)` feeding a
`Window` partitioned by `_pid` (parallel per-partition row_number), plus the
tiny per-partition-count job at build time. Ids are bit-identical to a
global row_number (gated in tests/test_prepare_and_schemes.py).
""",
}


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from stackoverflowner_spark.operators.dedup import minhash_signatures
    from stackoverflowner_spark.operators.document_kernel import pages_to_mentions_fused
    from stackoverflowner_spark.operators.link import link_salted
    from stackoverflowner_spark.operators.tagger import GazetteerTagger
    from stackoverflowner_spark.plans.pipeline import KGPipeline
    from stackoverflowner_spark.session import get_spark
    from stackoverflowner_spark.sources.dictionary import dictionary_df
    from stackoverflowner_spark.sources.pages import synth_pages

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    pages_path = "/tmp/sokg_plans_pages"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        synth_pages(spark, 2000).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    pipe = KGPipeline(spark, tempfile.mkdtemp())
    sections = []
    sections.append(HEADERS["flagship"] + "\n```\n"
                    + formatted(pipe.run_fused(pages))[:6000] + "\n```\n")
    mentions = pages_to_mentions_fused(pages, GazetteerTagger())
    sections.append(HEADERS["salted"] + "\n```\n"
                    + formatted(link_salted(mentions, dictionary_df(spark),
                                            n_salts=16))[:4500] + "\n```\n")
    from stackoverflowner_spark.sources.fixtures import read_fixture
    li = read_fixture(spark, "/root/testdata/sf0.01", "lineitem")
    q1 = (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n")))
    sections.append(HEADERS["q1"] + "\n```\n" + formatted(q1)[:3500] + "\n```\n")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sections.append(HEADERS["minhash"] + "\n```\n"
                    + formatted(minhash_signatures(docs, k=4))[:3500] + "\n```\n")
    from stackoverflowner_spark.operators.prepare import partitioned_rank
    vocab = (docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count("*").alias("freq")))
    ranked = partitioned_rank(vocab, [F.desc("freq"), F.asc("word")],
                              id_col="word_id", partitions=8)
    plan = formatted(ranked)
    assert "SinglePartition" not in plan
    sections.append(HEADERS["rank"] + "\n```\n" + plan[:3500] + "\n```\n")
    from stackoverflowner_spark.operators.dedup import simhash_pairs
    sp_plan = formatted(simhash_pairs(docs))
    assert "PythonUDF" not in sp_plan and "MapInPandas" not in sp_plan
    sections.append(HEADERS["simhash_pairs"] + "\n```\n"
                    + sp_plan[:4000] + "\n```\n")
    from stackoverflowner_spark.operators.decontam import with_contamination
    bench_docs = docs.filter(F.col("doc_id") % 17 == 3)
    train_docs = docs.filter(F.col("doc_id") % 17 != 3)
    dc_plan = formatted(with_contamination(train_docs, bench_docs, n=8))
    assert "PythonUDF" not in dc_plan and "MapInPandas" not in dc_plan
    sections.append(HEADERS["decontam"] + "\n```\n"
                    + dc_plan[:4000] + "\n```\n")

    from stackoverflowner_spark.operators.asof import asof_join, dedupe_build
    ev = read_fixture(spark, "/root/testdata/sf0.01", "events")
    probe = (ev.filter(F.col("event_type") == "view")
             .select("event_id", "user_id", "ts"))
    build = dedupe_build(
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value", "event_id"),
        ["user_id"], "ts", "event_id").select("user_id", "ts", "value")
    asof_plan = formatted(asof_join(probe, build, ["user_id"], "ts", ["value"]))
    assert "Join" not in asof_plan
    sections.append(HEADERS["asof"] + "\n```\n" + asof_plan[:4000] + "\n```\n")

    from stackoverflowner_spark.operators.rangejoin import interval_point_counts
    day_us = 86_400_000_000
    iv = (read_fixture(spark, "/root/testdata/sf0.01", "orders")
          .select("o_orderkey",
                  F.unix_micros(F.col("o_orderdate").cast("timestamp_ltz"))
                  .alias("s"))
          .withColumn("e", F.col("s") + F.lit(7 * day_us)))
    pts = li.select(
        F.unix_micros(F.col("l_shipdate").cast("timestamp_ltz")).alias("pt"))
    rj_plan = formatted(interval_point_counts(
        pts, iv, "pt", "s", "e", bin_width=7 * day_us,
        interval_keys=["o_orderkey"]))
    assert "NestedLoop" not in rj_plan and "Cartesian" not in rj_plan
    sections.append(HEADERS["range_join"] + "\n```\n" + rj_plan[:4000]
                    + "\n```\n")

    from stackoverflowner_spark.operators.substrdedup import winnow_candidates
    wc_plan = formatted(winnow_candidates(docs, n=8, w=4))
    assert "PythonUDF" not in wc_plan and "Cartesian" not in wc_plan \
        and "NestedLoop" not in wc_plan
    sections.append(HEADERS["substrdedup"] + "\n```\n" + wc_plan[:4000]
                    + "\n```\n")

    from stackoverflowner_spark.operators.fuzzylink import fuzzy_join
    fl = fuzzy_join(docs.select(F.substring(F.md5(F.col("doc_id")
                                                  .cast("string")), 1, 8)
                                .alias("mention")),
                    docs.select(F.substring(F.md5(F.concat(
                        F.col("doc_id").cast("string"), F.lit("x"))), 1, 8)
                        .alias("alias")),
                    "mention", "alias", max_dist=1)
    fl_plan = formatted(fl)
    assert "Cartesian" not in fl_plan and "NestedLoop" not in fl_plan \
        and "PythonUDF" not in fl_plan
    sections.append(HEADERS["fuzzy"] + "\n```\n" + fl_plan[:4000]
                    + "\n```\n")

    from stackoverflowner_spark.operators.kgquery import bgp_match
    tri = spark.createDataFrame(
        [("numpy", "instance_of", "Library"),
         ("numpy", "mentioned_in", "doc://1"),
         ("python", "instance_of", "Language"),
         ("python", "mentioned_in", "doc://1")],
        "subj string, pred string, obj string")
    bgp = bgp_match(tri, [("?x", "instance_of", "Library"),
                          ("?x", "mentioned_in", "?d"),
                          ("?y", "mentioned_in", "?d"),
                          ("?y", "instance_of", "Language")],
                    select=["x", "y", "d"])
    bgp_plan = formatted(bgp)
    assert "Cartesian" not in bgp_plan and "NestedLoop" not in bgp_plan
    sections.append(HEADERS["bgp"] + "\n```\n" + bgp_plan[:4000] + "\n```\n")

    from stackoverflowner_spark.operators.walks import (_adjacency, _pick,
                                                        merge_candidates)
    edges = tri.select(F.least("subj", "obj").alias("src"),
                       F.greatest("subj", "obj").alias("dst")).distinct()
    mc_plan = formatted(merge_candidates(edges, 50, max_degree=20))
    assert "Cartesian" not in mc_plan and "NestedLoop" not in mc_plan \
        and "PythonUDF" not in mc_plan
    sections.append(HEADERS["merge_cand"] + "\n```\n" + mc_plan[:4000]
                    + "\n```\n")

    adj = _adjacency(edges)
    frontier = (adj.select("v").distinct()
                .select(F.concat_ws("#", F.col("v"), F.lit(0))
                        .alias("walk_id"), F.col("v").alias("node")))
    step = (frontier.join(adj, frontier.node == adj.v)
            .filter(F.col("rnk") == _pick("walk", 1))
            .select("walk_id", F.col("n").alias("node")))
    ws_plan = formatted(step)
    assert "Cartesian" not in ws_plan and "PythonUDF" not in ws_plan
    sections.append(HEADERS["walk_step"] + "\n```\n" + ws_plan[:4000]
                    + "\n```\n")

    from pyspark.sql import Window
    adj2 = _adjacency(edges)
    fr2 = (adj2.select("v").distinct()
           .select(F.concat_ws("#", F.col("v"), F.lit(0)).alias("walk_id"),
                   F.col("v").alias("prev"), F.col("v").alias("node")))
    pe = adj2.select(F.col("v").alias("_pv"), F.col("n").alias("_pn"),
                     F.lit(1).alias("_near"))
    c2 = (fr2.join(adj2, fr2.node == adj2.v)
          .join(pe, (F.col("prev") == F.col("_pv"))
                & (F.col("n") == F.col("_pn")), "left")
          .withColumn("w", F.when(F.col("n") == F.col("prev"), F.lit(1))
                      .when(F.col("_near").isNotNull(), F.lit(4))
                      .otherwise(F.lit(2)).cast("long")))
    wwin = Window.partitionBy("walk_id")
    c2 = (c2.withColumn("tot", F.sum("w").over(wwin))
          .withColumn("cum", F.sum("w").over(
              wwin.orderBy("rnk").rowsBetween(Window.unboundedPreceding,
                                              0))))
    draw = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("n2v"), F.col("walk_id"), F.lit("1"))), 1, 15),
        16, 10).cast("long") % F.col("tot"))
    n2v_step = (c2.withColumn("draw", draw)
                .filter((F.col("draw") < F.col("cum"))
                        & (F.col("draw") >= F.col("cum") - F.col("w")))
                .select("walk_id", F.col("n").alias("node")))
    n2v_plan = formatted(n2v_step)
    assert "Cartesian" not in n2v_plan and "PythonUDF" not in n2v_plan
    sections.append(HEADERS["n2v_step"] + "\n```\n" + n2v_plan[:4000]
                    + "\n```\n")

    # one forward-BFS level of source-parallel Brandes: the (s, node)
    # frontier key is the whole scale story — capture it
    from stackoverflowner_spark.operators.graphalgo import sample_pivots
    sym = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .unionAll(edges.select(F.col("dst").alias("a"),
                                  F.col("src").alias("b")))
           .filter(F.col("a") != F.col("b")).distinct())
    lvl0 = sample_pivots(edges, 16).select(
        F.col("node").alias("s"), F.col("node"),
        F.lit(1).cast("long").alias("sigma"))
    visited0 = lvl0.select("s", "node")
    bc_nxt = (lvl0.join(sym, F.col("node") == F.col("a"))
              .select("s", F.col("b").alias("node"), "sigma")
              .groupBy("s", "node").agg(F.sum("sigma").alias("sigma"))
              .join(visited0, ["s", "node"], "left_anti"))
    bc_plan = formatted(bc_nxt)
    assert "Cartesian" not in bc_plan and "PythonUDF" not in bc_plan \
        and "SinglePartition" not in bc_plan
    sections.append(HEADERS["bc_level"] + "\n```\n" + bc_plan[:4000]
                    + "\n```\n")

    from stackoverflowner_spark.operators.validate import shacl_validate
    shapes = spark.createDataFrame(
        [("s1", "Library", "alias_of", 1, 3, "^[a-z]+$", ["a", "b"])],
        "shape_id string, target_class string, path string, "
        "min_count long, max_count long, pattern string, "
        "in_list array<string>")
    shacl_plan = formatted(shacl_validate(tri, shapes))
    assert ("BroadcastExchange" in shacl_plan
            and "Cartesian" not in shacl_plan
            and "PythonUDF" not in shacl_plan)
    sections.append(HEADERS["shacl"] + "\n```\n" + shacl_plan[:4000]
                    + "\n```\n")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PLANS.md")
    with open(out, "w") as f:
        f.write("# PLANS — physical-plan dossier (`.explain(\"formatted\")`)\n\n"
                "Regenerate with `python tools/gen_plans.py`.\n\n")
        f.write("\n".join(sections))
    print("wrote", out)


if __name__ == "__main__":
    main()
