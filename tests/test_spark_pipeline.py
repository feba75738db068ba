"""Spark-layer tests: document kernel stages, linking, components, triples,
checkpoint/resume, dedup/similarity operators.

One shared local session (module scope) to keep the suite fast.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators import document_kernel as dk
from stackoverflowner_spark.operators.components import connected_components
from stackoverflowner_spark.operators.dedup import (
    exact_dedup, lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs,
    simhash)
from stackoverflowner_spark.operators.link import link_broadcast, link_salted
from stackoverflowner_spark.operators.multimodal import (extract_features,
                                                         synth_media)
from stackoverflowner_spark.operators.tagger import GazetteerTagger
from stackoverflowner_spark.operators.triples import triples_from_linked
from stackoverflowner_spark.plans.pipeline import KGPipeline
from stackoverflowner_spark.session import get_spark
from stackoverflowner_spark.sources.dictionary import dictionary_df
from stackoverflowner_spark.sources.pages import synth_page, synth_pages


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, 120).cache()


def test_synth_pages_deterministic():
    a = synth_page(7)
    b = synth_page(7)
    assert a == b
    assert a["url"].endswith("000000007")


def test_pages_text_matches_html_extraction(spark, pages):
    from stackoverflowner_spark.kernel.htmltext import extract_text
    rows = pages.limit(10).collect()
    for r in rows:
        assert extract_text(bytes(r.html).decode()) == r.text


def test_fused_equals_modular(spark, pages):
    tagger = GazetteerTagger()
    modular = dk.mentions_stage(
        dk.sentences_stage(dk.extract_stage(pages)), tagger)
    fused = dk.pages_to_mentions_fused(pages, tagger)
    a = set(map(tuple, modular.collect()))
    b = set(map(tuple, fused.collect()))
    assert a == b and len(a) > 0


def test_tokens_long_alignment(spark, pages):
    toks = dk.tokens_long(dk.sentences_stage(dk.extract_stage(pages)))
    # offsets are strictly increasing within a sentence
    bad = (
        toks.groupBy("url", "sent_idx")
        .agg(F.collect_list(F.struct("tok_idx", "start")).alias("xs"))
        .select(F.expr(
            "exists(xs, x -> exists(xs, y -> y.tok_idx = x.tok_idx + 1 "
            "and y.start < x.start))").alias("bad"))
        .filter("bad").count()
    )
    assert bad == 0


def test_link_broadcast_and_salted_agree(spark, pages):
    mentions = dk.pages_to_mentions_fused(pages, GazetteerTagger()).cache()
    d = dictionary_df(spark)
    a = set(map(tuple, link_broadcast(mentions, d).collect()))
    b = set(map(tuple, link_salted(mentions, d, n_salts=4).collect()))
    assert a == b and len(a) > 0


def test_link_plan_is_broadcast(spark, pages):
    mentions = dk.pages_to_mentions_fused(pages, GazetteerTagger())
    plan = link_broadcast(mentions, dictionary_df(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_triples_shape_and_partition_hash(spark, pages):
    mentions = dk.pages_to_mentions_fused(pages, GazetteerTagger())
    linked = link_broadcast(mentions, dictionary_df(spark))
    tri = triples_from_linked(linked, n_buckets=8)
    rows = tri.collect()
    assert rows
    assert set(r.pred for r in rows) == {"instance_of", "mentioned_in", "alias_of"}
    assert all(0 <= r.part_hash < 8 for r in rows)
    # evidence rows unique
    assert len(rows) == len(set((r.subj, r.pred, r.obj, r.url) for r in rows))


def test_connected_components_ring_and_chain(spark):
    edges = [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)]
    edges += [(f"m{i}", f"m{i + 1}") for i in range(4)]
    comps = connected_components(spark.createDataFrame(edges, ["src", "dst"]))
    got = {r.node: r.component for r in comps.collect()}
    assert len({got[f"n{i}"] for i in range(6)}) == 1
    assert len({got[f"m{i}"] for i in range(5)}) == 1
    assert got["n0"] != got["m0"]


def test_checkpoint_resume_no_recompute(spark, pages, tmp_path):
    root = str(tmp_path / "ckpt")
    pipe = KGPipeline(spark, root, n_buckets=4)
    with pytest.raises(RuntimeError):
        pipe.run_checkpointed(pages, fail_after_stage="sentences")
    done_before = pipe.lineage.completed("sentences")
    assert len(done_before) == 4

    pipe2 = KGPipeline(spark, root, n_buckets=4)
    path = pipe2.run_checkpointed(pages)
    tri = spark.read.parquet(path)
    # doc_consistency=True mirrors the pipeline default: the checkpointed
    # path ran the declarative propagate_mentions, the fused twin runs the
    # kernel pass — this equality IS the kernel-vs-declarative parity gate
    # on the full synthetic corpus with the learned default tagger
    fused = triples_from_linked(
        link_broadcast(dk.pages_to_mentions_fused(pages, pipe2.tagger,
                                                  doc_consistency=True),
                       pipe2.dictionary), n_buckets=4)
    a = set(map(tuple, tri.select("subj", "pred", "obj", "url").collect()))
    b = set(map(tuple, fused.select("subj", "pred", "obj", "url").collect()))
    assert a == b
    # resume did not rewrite completed sentence buckets
    assert pipe2.lineage.completed("sentences") == done_before


def test_exact_dedup_finds_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unique text")],
        ["doc_id", "text"])
    rows = {r.content_hash: r for r in exact_dedup(df).collect()}
    assert len(rows) == 2
    dup = [r for r in rows.values() if r.dup_count == 2][0]
    assert dup.keep_id == 1


def test_minhash_lsh_recall_on_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again forever"
    rows = [(1, base), (2, base + " extra"), (3, "совершенно другой текст без общих слов")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(df, k=8)
    pairs = lsh_candidate_pairs(sig, rows_per_band=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    ver = ngram_jaccard_pairs(df, pairs, threshold=0.3)
    vgot = {(r.id_a, r.id_b) for r in ver.collect()}
    assert (1, 2) in vgot and (1, 3) not in vgot


def test_simhash_close_for_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, "wholly different words entirely")],
        ["doc_id", "text"])
    got = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in got.values())
    def hamming(a, b):
        return sum(x != y for x, y in zip(a, b))
    assert hamming(got[1], got[2]) < hamming(got[1], got[3])


def test_multimodal_plumbing(spark):
    media = synth_media(spark, 30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.features) == 16 for r in rows)


def test_extraction_error_flagged_not_fatal(spark):
    import datetime
    rows = [("u1", datetime.datetime(2024, 1, 1),
             b"<p>ok <kbd>two <b>children</b></kbd></p>", None, "en"),
            ("u2", datetime.datetime(2024, 1, 1),
             b"<p>fine text here.</p>", None, "en")]
    from stackoverflowner_spark.sources.pages import PAGES_SCHEMA
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    ex = dk.extract_stage(df).collect()
    by_url = {r.url: r for r in ex}
    assert by_url["u1"].ok is False and "extract:" in by_url["u1"].err
    assert by_url["u2"].ok is True


def test_minhash_fast_matches_md5_candidates(spark):
    """The xxhash64 scale variant must surface the same near-duplicate
    candidate pairs as the oracle-verified md5 variant."""
    from stackoverflowner_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, minhash_signatures_fast)
    base = "the quick brown fox jumps over the lazy dog again and again forever"
    rows = [(1, base), (2, base + " extra"), (3, "totally unrelated words here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    slow = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
        minhash_signatures(df, k=8), rows_per_band=2).collect()}
    fast = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
        minhash_signatures_fast(df, k=8), rows_per_band=2).collect()}
    assert (1, 2) in fast
    assert fast == slow
