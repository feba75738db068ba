"""Learned-tagger gates: determinism, quality floor, Spark integration."""

import itertools
import os

import pytest

GOLD_TRAIN = "/root/reference/resources/annotated_ner_data/StackOverflow/train.txt"
GOLD_TEST = "/root/reference/resources/annotated_ner_data/StackOverflow/test.txt"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLD_TRAIN), reason="reference gold absent")


def _small_data(path, n):
    from collections import Counter

    from stackoverflowner_spark.kernel.conlleval import extract_chunks
    from stackoverflowner_spark.kernel.goldload import parse_gold_lines
    sentences = list(itertools.islice(
        parse_gold_lines(open(path).read().splitlines()), 0, n))
    counts = Counter()
    for s in sentences:
        words = [t.word for t in s]
        for typ, a, b in extract_chunks([t.tag for t in s]):
            counts[(" ".join(words[a:b]).lower(), typ)] += 1
    alias = {}
    for (surf, typ), c in counts.most_common():
        if c >= 2 and surf not in alias:
            alias[surf] = typ
    data = []
    for s in sentences:
        w = [t.word for t in s]
        data.append((w, [t.md_label for t in s],
                     [alias.get(x.lower(), "O") for x in w],
                     [t.tag for t in s]))
    return data, alias


def test_perceptron_deterministic_and_learns():
    from stackoverflowner_spark.kernel.conlleval import evaluate_sentences
    from stackoverflowner_spark.kernel.perceptron import AveragedPerceptron

    data, alias = _small_data(GOLD_TRAIN, 1500)
    m1 = AveragedPerceptron()
    m1.fit(data, epochs=3)
    m2 = AveragedPerceptron()
    m2.fit(data, epochs=3)
    assert m1.weights == m2.weights  # bit-deterministic

    test_data, _ = _small_data(GOLD_TEST, 500)
    preds = [m1.tag_sentence(w, md, [alias.get(x.lower(), "O") for x in w])
             for w, md, _, _ in test_data]
    rep = evaluate_sentences([g for _, _, _, g in test_data], preds)
    assert rep["__overall__"]["f1"] >= 30.0, rep["__overall__"]


def test_perceptron_tagger_save_load_and_spark(tmp_path):
    from stackoverflowner_spark.kernel.perceptron import AveragedPerceptron
    from stackoverflowner_spark.operators.tagger import PerceptronTagger

    data, alias = _small_data(GOLD_TRAIN, 800)
    model = AveragedPerceptron()
    model.fit(data, epochs=2)
    tagger = PerceptronTagger(model, alias)
    p = str(tmp_path / "tagger.pkl.gz")
    tagger.save(p)
    loaded = PerceptronTagger.load(p)
    toks = ["I", "use", "python", "and", "jquery", "."]
    mds = ["O"] * 6
    assert loaded.tag(toks, mds) == tagger.tag(toks, mds)
    assert len(loaded.tag(toks, mds)) == 6

    # runs inside the Spark mention stage
    from stackoverflowner_spark.operators.document_kernel import pages_to_mentions_fused
    from stackoverflowner_spark.session import get_spark
    from stackoverflowner_spark.sources.pages import synth_pages
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    mentions = pages_to_mentions_fused(synth_pages(spark, 40), loaded)
    rows = set(map(tuple, mentions.collect()))
    # distributed result equals the single-process computation (determinism
    # across serialization/broadcast boundaries)
    from stackoverflowner_spark.kernel.bio import text_to_conll_rows
    from stackoverflowner_spark.kernel.conlleval import extract_chunks
    from stackoverflowner_spark.kernel.htmltext import extract_text
    from stackoverflowner_spark.kernel.sentencize import sentencize
    from stackoverflowner_spark.sources.pages import synth_page
    local = set()
    for i in range(40):
        p = synth_page(i)
        if p["lang"] != "en":
            continue
        final, anns = sentencize(extract_text(bytes(p["html"]).decode()),
                                 p["url"].rsplit("/", 1)[-1])
        by = {}
        for r in text_to_conll_rows(final, anns):
            by.setdefault(r.sent_idx, []).append(r)
        for si, rs in by.items():
            toks = [r.token for r in rs]
            tags = loaded.tag(toks, [r.tag for r in rs])
            for typ, a, b in extract_chunks(tags):
                surf = " ".join(toks[a:b])
                local.add((p["url"], si, a, b, surf, surf.lower(), typ))
    assert rows == local


def test_structured_viterbi_variant():
    from stackoverflowner_spark.kernel.conlleval import evaluate_sentences
    from stackoverflowner_spark.kernel.perceptron import StructuredPerceptron

    data, alias = _small_data(GOLD_TRAIN, 1500)
    m1 = StructuredPerceptron()
    m1.fit(data, epochs=3)
    m2 = StructuredPerceptron()
    m2.fit(data, epochs=3)
    import numpy as np
    assert (m1.trans == m2.trans).all()
    assert set(m1.w) == set(m2.w)
    # START -> I-* pinned at the reference's impossible constant (M10)
    L = len(m1.labels)
    for j, lab in enumerate(m1.labels):
        if lab.startswith("I-"):
            assert m1.trans[L, j] == m1.NEG

    test_data, _ = _small_data(GOLD_TEST, 500)
    preds = [m1.tag_sentence(w, md, [alias.get(x.lower(), "O") for x in w])
             for w, md, _, _ in test_data]
    rep = evaluate_sentences([g for _, _, _, g in test_data], preds)
    assert rep["__overall__"]["f1"] >= 30.0, rep["__overall__"]
    # viterbi output is well-formed IOB2 at the sequence start
    for p in preds:
        if p:
            assert not p[0].startswith("I-")


REF_CTC_TSV = ("/root/reference/code/Attentive_BiLSTM/auxilary_inputs_ner/"
               "ctc_pred.tsv")


@pytest.mark.skipif(not os.path.exists(REF_CTC_TSV), reason="ctc fixture absent")
def test_ctc_aux_channel_roundtrip(tmp_path):
    from stackoverflowner_spark.operators.tagger import PerceptronTagger
    # small/fast: 2 epochs greedy, with the reference CTC dict channel
    t = PerceptronTagger.fit_from_gold(GOLD_TRAIN, epochs=1, ctc_path=REF_CTC_TSV)
    toks = ["I", "use", "python", "with", "foo.bar()", "."]
    tags = t.tag(toks, ["O"] * 6)
    assert len(tags) == 6
    p = str(tmp_path / "t.pkl.gz")
    t.save(p)
    t2 = PerceptronTagger.load(p)
    assert t2.ctc_dict is not None
    assert t2.tag(toks, ["O"] * 6) == tags


REF_SEG_TRAIN = ("/root/reference/code/Attentive_BiLSTM/auxilary_inputs_ner/"
                 "segmenter_pred/segmenter_pred_train.txt")


@pytest.mark.skipif(not os.path.exists(REF_SEG_TRAIN), reason="seg fixture absent")
def test_seg_aux_channel_two_pass_flow(tmp_path):
    """E2E two-pass shape: tagger trained with the reference's shipped
    segmenter-prediction channel; at inference the channel comes from the
    deterministic binary segmenter."""
    from stackoverflowner_spark.operators.tagger import PerceptronTagger
    t = PerceptronTagger.fit_from_gold(
        GOLD_TRAIN, epochs=1, ctc_path=REF_CTC_TSV, seg_path=REF_SEG_TRAIN)
    assert t.use_seg_channel
    toks = ["I", "use", "python", "daily", "."]
    tags = t.tag(toks, ["O"] * 5)
    assert len(tags) == 5
    p = str(tmp_path / "seg_tagger.pkl.gz")
    t.save(p)
    t2 = PerceptronTagger.load(p)
    assert t2.use_seg_channel and t2.tag(toks, ["O"] * 5) == tags


def test_fast_inference_path_matches_emission_path():
    """tag_sentence (the batched float32 decode) must reproduce the full
    float64 _emissions + _viterbi decode on the gold test split."""
    import numpy as np
    from stackoverflowner_spark.operators.tagger import default_tagger, PerceptronTagger
    t = default_tagger()
    assert isinstance(t, PerceptronTagger)
    m = t.model
    data, _ = _small_data(GOLD_TEST, 400)
    checked = 0
    for w, md, gaz, _g in data:
        if not w:
            continue
        E, _ = m._emissions(w, md, gaz)
        ref = [m.labels[j] for j in m._viterbi(E)]
        got = m.tag_sentence(w, md, gaz)
        assert got == ref, (w, got, ref)
        checked += 1
    assert checked > 300
