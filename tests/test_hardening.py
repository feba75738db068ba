"""Hardening gates: ingest-mode agreement, skew/salt plan shape, long-chain
components, orphan-bucket resume, in-pytest oracle subset."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.document_kernel import pages_to_mentions_fused
from stackoverflowner_spark.operators.components import connected_components
from stackoverflowner_spark.operators.link import link_salted
from stackoverflowner_spark.operators.tagger import GazetteerTagger
from stackoverflowner_spark.plans.pipeline import KGPipeline
from stackoverflowner_spark.session import get_spark
from stackoverflowner_spark.sources.dictionary import dictionary_df
from stackoverflowner_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-hard", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_html_and_text_ingest_modes_agree(spark):
    """FIXTURES.md: rows where html is null fall back to the text column and
    both modes must produce identical results."""
    pages = synth_pages(spark, 80)
    text_only = pages.withColumn("html", F.lit(None).cast("binary"))
    tagger = GazetteerTagger()
    a = set(map(tuple, pages_to_mentions_fused(pages, tagger).collect()))
    b = set(map(tuple, pages_to_mentions_fused(text_only, tagger).collect()))
    assert a == b and a


def test_salted_join_plan_shape(spark):
    mentions = pages_to_mentions_fused(synth_pages(spark, 40), GazetteerTagger())
    plan = link_salted(mentions, dictionary_df(spark), n_salts=8)._jdf \
        .queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "Generate explode" in plan or "sequence(0, 7" in plan


def test_components_long_chain_converges(spark):
    n = 24
    edges = [(f"c{i:02d}", f"c{i+1:02d}") for i in range(n)]
    comps = connected_components(spark.createDataFrame(edges, ["src", "dst"]),
                                 max_iter=60, checkpoint_every=3)
    got = {r.node: r.component for r in comps.collect()}
    assert len(set(got.values())) == 1
    assert set(got.values()) == {"c00"}


def test_resume_scrubs_orphan_bucket(spark, tmp_path):
    """A crash mid-write leaves parquet for a bucket that lineage never
    recorded; resume must replace it, not double-append."""
    root = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 60)
    pipe = KGPipeline(spark, root, n_buckets=4)
    with pytest.raises(RuntimeError):
        pipe.run_checkpointed(pages, fail_after_stage="extracted")
    # simulate: drop lineage record for bucket 0 but keep its files
    lin = pipe.lineage.completed("extracted")
    assert 0 in lin
    import json
    lp = os.path.join(root, "_lineage_extracted.json")
    data = json.load(open(lp))
    del data["buckets"]["0"]
    json.dump(data, open(lp, "w"))

    pipe2 = KGPipeline(spark, root, n_buckets=4)
    path = pipe2.run_checkpointed(pages)
    tri = spark.read.parquet(path)
    fused = pipe2.run_fused(pages)
    a = sorted(map(tuple, tri.select("subj", "pred", "obj", "url").collect()))
    b = sorted(map(tuple, fused.select("subj", "pred", "obj", "url").collect()))
    assert a == b  # sorted lists: duplicates would differ


ORACLE_SUBSET = ["vocab_mapping", "minhash", "embedding_topk", "conll_chunk_agg",
                 "word_ids", "quality", "tpch_q1"]


@pytest.mark.skipif(not os.path.exists("/root/testdata/sf0.001"),
                    reason="testdata absent")
def test_oracle_subset_sf0001(spark):
    import sys
    sys.path.insert(0, os.path.dirname(__file__))
    from oracle_harness import run_all
    res = run_all(spark, "/root/testdata/sf0.001", only=ORACLE_SUBSET)
    problems = [p for probs in res.values() for p in probs]
    assert not problems, problems


REF_SEG = ("/root/reference/code/Attentive_BiLSTM/auxilary_inputs_ner/"
           "segmenter_pred/segmenter_pred_test.txt")
REF_CTC = ("/root/reference/code/Attentive_BiLSTM/auxilary_inputs_ner/"
           "ctc_pred.tsv")
REF_GOLD_TEST = "/root/reference/resources/annotated_ner_data/StackOverflow/test.txt"


@pytest.mark.skipif(not os.path.exists(REF_SEG), reason="reference fixtures absent")
def test_aux_pred_loaders_and_keyed_merge(spark):
    """S6/J4/J5: the shipped aux fixtures load, and the keyed sentence join
    (instead of the reference's positional zip) aligns 1:1 with the gold
    test split."""
    from stackoverflowner_spark.sources.textlines import (
        ctc_pred_dict, gold_conll, segmenter_preds)
    ctc = ctc_pred_dict(spark, REF_CTC)
    assert ctc.count() > 15000
    assert set(r.ctc_pred for r in ctc.select("ctc_pred").distinct().collect()) <= {0, 1}

    seg = segmenter_preds(spark, REF_SEG)
    gold = gold_conll(spark, REF_GOLD_TEST)
    n_seg = seg.count()
    n_gold = gold.count()
    assert n_seg == n_gold == 3108
    g = gold.select("sent_idx", F.col("words").alias("g_words"))
    s = seg.select("sent_idx", F.col("words").alias("s_words"))
    same = g.join(s, "sent_idx").filter(
        F.col("g_words") == F.col("s_words")).count()
    # word sequences agree on (all but one known) sentence
    assert same >= n_gold - 1


def test_lineage_metrics_recorded(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    pipe = KGPipeline(spark, root, n_buckets=2)
    pipe.run_checkpointed(synth_pages(spark, 30))
    import json
    d = json.load(open(os.path.join(root, "_lineage_extracted.json")))
    assert d["metrics"]["rows_written"] > 0
    assert "failed_rows" in d["metrics"]


def test_components_random_graph_vs_union_find(spark):
    """Connected components vs a pure-python union-find oracle on a seeded
    random graph (200 nodes, 180 edges -> many non-trivial components)."""
    import random
    rng = random.Random(4242)
    nodes = [f"v{i:03d}" for i in range(200)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(180)]

    parent = {n: n for n in nodes}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    touched = {n for e in edges for n in e}
    expected = {}
    for n in touched:
        expected.setdefault(find(n), set()).add(n)
    expected_sets = {frozenset(v) for v in expected.values()}

    comps = connected_components(
        spark.createDataFrame(edges, ["src", "dst"]), max_iter=100)
    got = {}
    for r in comps.collect():
        got.setdefault(r.component, set()).add(r.node)
    got_sets = {frozenset(v) for v in got.values()}
    assert got_sets == expected_sets
    # component id is the min node id (label propagation invariant)
    assert all(min(s) == c for c, s in got.items())


def test_components_large_random_graph_vs_union_find(spark):
    """Canonicalization at size: 30k nodes / 40k random edges + a 500-spoke
    star (head-entity skew shape). Oracle = local union-find."""
    import random
    rng = random.Random(11)
    edges = [(f"v{rng.randrange(30000)}", f"v{rng.randrange(30000)}")
             for _ in range(40000)]
    edges += [("hub", f"s{i}") for i in range(500)]
    comps = connected_components(
        spark.createDataFrame(edges, ["src", "dst"]), max_iter=60)
    got = {r.node: r.component for r in comps.collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {}
    for n in list(parent):
        want.setdefault(find(n), set()).add(n)
    # same partition of nodes into components (labels may differ)
    got_groups = {}
    for n, c in got.items():
        got_groups.setdefault(c, set()).add(n)
    assert set(map(frozenset, got_groups.values())) == \
        set(map(frozenset, want.values()))


def test_lang_partition_pruning(spark, tmp_path):
    """Pages written partitioned by lang: the flagship's lang filter must
    prune partitions at scan planning (PartitionFilters), the on-disk shape
    the 100 TB deployment relies on."""
    pages = synth_pages(spark, 300)
    loc = str(tmp_path / "pages_by_lang")
    pages.write.partitionBy("lang").parquet(loc)
    df = spark.read.parquet(loc).filter(F.col("lang") == "en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    n_en = pages.filter(F.col("lang") == "en").count()
    assert df.count() == n_en


def test_components_raise_instead_of_silent_wrong_answer(spark):
    """A graph whose diameter exceeds max_iter must raise, never return
    partially-propagated (wrong) components."""
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)], ["src", "dst"])
    out = {r.node: r.component
           for r in connected_components(edges).collect()}
    assert set(out.values()) == {"n000"}          # converges fine at default
    with _pytest.raises(RuntimeError, match="not converged"):
        connected_components(edges, max_iter=3)
