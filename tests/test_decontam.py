"""Benchmark decontamination: planted specimens, plan shape, and the
strict driver-criterion oracle gate — plus the rotation gate keeping
cap_feature (moved off the 50-entry driver surface in r5) green against
its DuckDB oracle.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.decontam import (
    benchmark_grams, with_contamination)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-decontam", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BENCH_SENT = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram


def test_planted_contamination_flagged(spark):
    bench = _df(spark, [(100, BENCH_SENT)])
    docs = _df(spark, [
        # shares the full benchmark 8-gram mid-document -> contaminated
        (1, "intro words then " + BENCH_SENT + " and a tail"),
        # shares only 7 of the 8 tokens -> clean
        (2, "alpha beta gamma delta epsilon zeta eta omega filler filler"),
        # unrelated -> clean
        (3, "totally unrelated text with enough words to form many grams"),
    ])
    out = {r.doc_id: r for r in
           with_contamination(docs, bench, n=8).collect()}
    assert out[1].contaminated and out[1].hit_ngrams == 1
    assert not out[2].contaminated and out[2].hit_ngrams == 0
    assert not out[3].contaminated
    # total_ngrams is len-7 for docs with >= 8 tokens
    assert out[2].total_ngrams == 3


def test_normalization_case_and_punct(spark):
    # benchmark text differs in case and trailing punctuation only
    bench = _df(spark, [(100, "Alpha, beta; GAMMA delta (epsilon) "
                              "zeta eta theta!")])
    docs = _df(spark, [(1, "x " + BENCH_SENT + " y")])
    out = with_contamination(docs, bench, n=8).collect()[0]
    assert out.contaminated and out.hit_ngrams == 1


def test_short_docs_never_flagged(spark):
    bench = _df(spark, [(100, BENCH_SENT)])
    docs = _df(spark, [(1, "alpha beta gamma"), (2, "")])
    for r in with_contamination(docs, bench, n=8).collect():
        assert r.total_ngrams == 0 and not r.contaminated


def test_benchmark_grams_distinct(spark):
    # the same sentence twice must not duplicate the broadcast set
    bench = _df(spark, [(1, BENCH_SENT), (2, BENCH_SENT)])
    assert benchmark_grams(bench, n=8).count() == 1


def test_no_corpus_shuffle_before_broadcast_join(spark):
    """100-TB shape: the corpus-side explode must feed a BroadcastHashJoin
    directly — no Exchange between the documents scan and the first join
    (the only Exchanges allowed are the tiny hit-side aggregate's)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 3)
    train = docs.filter(F.col("doc_id") % 17 != 3)
    plan = (with_contamination(train, bench, n=8)
            ._jdf.queryExecution().executedPlan().toString())
    # walk up from the corpus-side explode (Generate): no Exchange may sit
    # between it and the BroadcastHashJoin above it
    lines = plan.splitlines()
    # both sides now inline the gram transform, so identify the corpus
    # explode STRUCTURALLY: at least one Generate must reach a
    # BroadcastHashJoin walking up without crossing any Exchange. The
    # benchmark-side Generate hits its distinct aggregate's Exchange
    # first (fine — eval-set sized); if the corpus side ever regresses to
    # a shuffle, no Generate satisfies the condition and the gate fails.
    gen_idxs = [i for i, l in enumerate(lines) if "Generate explode(" in l]
    assert gen_idxs, plan

    def _feeds_join_unshuffled(gi):
        for l in lines[:gi][::-1]:
            if "BroadcastHashJoin" in l:
                return True
            if "Exchange hashpartitioning" in l or "BroadcastExchange" in l:
                return False
        return False

    assert any(_feeds_join_unshuffled(gi) for gi in gen_idxs), plan


def test_driver_oracle_strict(spark):
    """Reproduce the driver's bitwise criterion for the new entry."""
    from tests.oracle_harness import load_entry, run_all
    res = run_all(spark, SF, only=["decontam"], strict=True)
    assert res["decontam"] == [], res["decontam"]
    # non-vacuous at this SF: some docs are actually contaminated
    mod = load_entry()
    hit = (mod.q_decontam(spark, SF)
           .filter(F.col("contaminated") == 1).count())
    assert hit >= 1


@pytest.mark.parametrize("name", [
    # every entry ever rotated off the 50-entry driver surface that still
    # carries a DuckDB oracle (r4 cuts + cap_feature/word_ids in r5):
    # none of them is allowed to silently rot
    "cap_feature", "word_ids", "union_distinct", "lang_id", "token_count",
    "fingerprint", "hash_sample", "ivf_assign", "multimodal_meta",
    "tpch_q6",
    # r5c: slots freed for sessionize / domain_cap (their strict
    # window-shape sub-cases)
    "window_top3", "lag_gap",
    # r5d: slots freed for asof_join / range_join / crawl_delta (covered
    # cousins: decontam + ctc_predict broadcast-lookup joins, the q4ish
    # EXISTS semi-join, the ctc_predict binner stage)
    "ctc_dict_join", "semi_join", "freq_vector",
    # r5d: slots freed for doc_chunks / pack_docs (minhash signatures feed
    # the surviving lsh_pairs row; simhash fingerprints feed simhash_pairs)
    "minhash", "simhash",
    # r5d: slot freed for temperature_sample (jaccard_pairs is the middle
    # stage of the dedup chain whose ends, lsh_pairs and dedup_clusters,
    # stay on the driver surface)
    "jaccard_pairs",
    # r5e: slot freed for substring_dedup (hash_split's md5-unit-hash
    # mechanics survive via temperature_sample / pack_docs / domain_cap,
    # and hash_sample is already gated here)
    "hash_split",
    # r5e: slots freed for link_graph / lm_score — dedup_clusters is
    # components (surface) over jaccard_pairs (gated here); eval_rollup
    # is an arithmetic rollup of the surviving conll_chunk_agg row
    "dedup_clusters", "eval_rollup",
    # r5e: slot freed for robots_filter — ctc_rules is the rule-overlay
    # sub-stage the surviving ctc_predict oracle replays end-to-end
    "ctc_rules",
    # r5e: slot freed for boilerplate — char_vocab is the
    # explode+groupBy-count shape vocab_pruned / vocab_mapping /
    # entity_rank keep on the surface
    "char_vocab",
    # r5f: slot freed for hll_tokens — nation_revenue's join+agg revenue
    # shape is a strict sub-shape of the surviving tpch_q5ish row (same
    # join chain + decimal money agg)
    "nation_revenue",
    # r5f: slot freed for cm_freq — q10ish's join-chain + money-agg +
    # top-k shape survives via the surviving tpch_q3ish row
    "tpch_q10ish",
    # r5f: slot freed for bloom_prune — lsh_ann's bucketed-ANN surface
    # survives via ivf_search + embedding_near_dup, plus its own
    # recall>=0.9 pytest gate
    "lsh_ann",
    # r5f: slot freed for triangles — q14ish's conditional-agg-ratio
    # shape survives via gopher_rules + the q5ish/q3ish money aggs
    "tpch_q14ish",
    # r5f: slot freed for bfs_dist — q18ish's agg-having subquery + join
    # shape survives via tpch_q16ish and tpch_q4ish
    "tpch_q18ish",
    # r5g: slot freed for fuzzy_link — embedding_topk's broadcast-cosine
    # surface survives via ivf_search plus its bitwise dot-fold pytest
    # oracle
    "embedding_topk",
    # r5g: slot freed for sssp — lsh_pairs' banding-bucket-self-join
    # surface survives via simhash_pairs; the minhash chain keeps its
    # own pytest gates
    "lsh_pairs",
    # r5g: oracled from birth on the pytest surface (never drove a
    # 50-slot): exact-rational PMI collocations and inverted-index
    # conjunctive search
    "pmi_collocations",
    "keyword_search",
    # r5g: oracled from birth on the pytest surface — distribution
    # summaries (mergeable histogram + exact group percentiles) and the
    # remaining §2.7 shapes (rollup grouping sets, pivot, event-time
    # tumbling windows)
    "hist_quantile",
    "exact_quantiles",
    "rollup_revenue",
    "pivot_events",
    "tumbling_window",
    # r5g: the entity co-mention evidence graph (doc-keyed self-join
    # with the mega-doc fanout guard), oracled from birth
    "comention_graph",
    # r5g: politeness crawl scheduling — skew-proof two-pass rank vs the
    # plain-window oracle semantics, oracled from birth
    "crawl_schedule",
    # r5g: INTERSECT/EXCEPT set semantics and the moving rows-frame
    # window (decimal-exact), oracled from birth
    "set_ops",
    "moving_sum",
    # r5g: exact integer moments + rational population variance
    "group_moments",
    # r5g: collective entity disambiguation — integer co-mention
    # support, argmax per (doc, mention), oracled from birth
    "disambiguate",
    # r5g: RDF N-Triples export of the flagship documents-derived KG
    "ntriples",
    # r5h: slot freed for kg_bgp — kg_mentions_documents is the strict
    # sub-pipeline of the surviving kg_triples_documents row
    "kg_mentions_documents",
    # r5h: domain/range constraint validation (SHACL-lite publish gate),
    # oracled from birth — both rules non-vacuously violated at sf0.01
    "kg_validate",
    # r5h: DSIR importance-resampling integer sufficient statistics,
    # oracled from birth (float log/Gumbel stages are pytest-parity)
    "dsir_stats",
    # r5n: RDFS-style forward-chaining materialization (rdfs11/5/7/9 over
    # the documents-derived KG + in-band ontology), oracled from birth —
    # the oracle replays both transitive closures as recursive CTEs
    "kg_inference",
    # r5h: the two remaining classic TPC-H shapes, oracled from birth —
    # q17 (decorrelated scalar subquery, exact-decimal 20% threshold) and
    # q21 (stacked semi+anti with residual non-equi conditions)
    "tpch_q17ish",
    "tpch_q21ish",
    # r5j: distributed BPE training's per-iteration pair aggregate,
    # oracled from birth — the iterative trainer itself is gated bitwise
    # vs the single-process reference in tests/test_bpe.py
    "bpe_pairs",
    # r5j: link prediction over the co-mention graph — cn + exact
    # fixed-point ra_fp strict; float aa is ulp-tolerance-gated in
    # tests/test_linkpred.py
    "link_predict",
    # r5k: TransE epoch-0 fixed-point gradient sums — the one cross-row
    # reduction of the distributed embedding trainer, replayed bitwise
    # in DuckDB (init/normalize/corrupt/margin all restated in SQL); the
    # iterative trainer itself is gated vs a pure-Python replay plus
    # partitioning invariance in tests/test_kgembed.py
    "transe_grad",
    # r5l: deterministic DeepWalk corpus (bitwise recursive-CTE oracle —
    # every step a pure md5 function of (salt, walk_id, step)) and
    # neighborhood-Jaccard alias-merge candidates (exact integer
    # rational), both oracled from birth on the pytest surface
    "random_walks",
    "merge_candidates",
    # r5l: DeepWalk's second half — skip-gram pair generation and the
    # SGNS epoch-0 fixed-point gradient aggregate (hash negatives,
    # rational fast sigmoid), both bitwise DuckDB twins; the iterative
    # trainer is replay-gated in tests/test_sgns.py
    "sgns_pairs",
    "sgns_grad",
    # r5l: node2vec second-order biased walks — exact integer
    # return/near/far weights make the weighted draw bitwise; DuckDB
    # recursive-CTE twin with the same dead-end escape hatch
    "node2vec_walks",
    # r5l: weight-proportional first-order walks over the weighted
    # co-mention graph (document-count edge weights), same integer
    # cumulative draw
    "weighted_walks"])
def test_rotated_entries_still_green(spark, name):
    """Rotation gates: entries that left the 50-entry driver surface
    (cap_feature in r5 — slot freed for decontam; the rest in r4) keep
    their query + oracle verified here with the same strict compare the
    driver uses."""
    from tests.oracle_harness import compare, duck_con, load_entry
    mod = load_entry()
    sdf = getattr(mod, f"q_{name}")(spark, SF).toPandas()
    odf = duck_con(SF).execute(mod.oracle_sql()[name]).df()
    assert compare(name, sdf, odf, strict=True) == []
