"""Decode gate for the shipped tagger artifact, on synthetic web pages.

Needs only ``synth_page`` and the shipped artifact (no reference data), so
it runs on every host. Inference decodes in float32 through one batched
path (``tag_sentences``; ``tag`` is a batch of one); this pins tag-level
equality of both entry points against the float64 training-path decode
(``_emissions`` + ``_viterbi``) on ~2.5k kernel-produced sentences.
"""

from stackoverflowner_spark.kernel.bio import text_to_conll_rows
from stackoverflowner_spark.kernel.htmltext import extract_text
from stackoverflowner_spark.kernel.sentencize import sentencize
from stackoverflowner_spark.operators.tagger import (PerceptronTagger,
                                                     default_tagger)
from stackoverflowner_spark.sources.pages import synth_page


def _web_sentences(n_pages=300):
    sents = []
    for i in range(n_pages):
        final, anns = sentencize(
            extract_text(synth_page(i)["html"].decode()), str(i))
        by = {}
        for r in text_to_conll_rows(final, anns):
            by.setdefault(r.sent_idx, []).append(r)
        for rs in by.values():
            sents.append(([r.token for r in rs], [r.tag for r in rs]))
    return sents


def test_float32_decode_matches_float64_on_web_corpus():
    t = default_tagger()
    assert isinstance(t, PerceptronTagger)
    m = t.model
    sents = _web_sentences()
    # cold memo for each entry point, so neither answers from the other's
    # cached decodes
    t.__dict__.pop("_sent_cache", None)
    single = [t.tag(toks, mds) for toks, mds in sents]
    t.__dict__.pop("_sent_cache", None)
    batched = t.tag_sentences(sents)
    checked = 0
    for (toks, mds), one, got in zip(sents, single, batched):
        w, md, gaz = t._model_inputs(toks, mds)
        if not w:
            continue
        E, _ = m._emissions(w, md, gaz)  # float64 reference path
        ref = [m.labels[j] for j in m._viterbi(E)]
        assert got == ref, (toks, got, ref)
        assert one == ref, (toks, one, ref)
        checked += 1
    assert checked > 2000


def test_greedy_model_takes_the_same_entry_point():
    """run_pipeline's ``--tagger greedy`` wraps an AveragedPerceptron: its
    ``tag_sentences`` loops the greedy decode, and ``tag`` is a batch of
    one through the same path."""
    from stackoverflowner_spark.kernel.perceptron import AveragedPerceptron

    alias = {"numpy": "Library", "python": "Language"}
    t = PerceptronTagger(None, alias)
    data = []
    for toks, gold in [
            (["use", "numpy", "now"], ["O", "B-Library", "O"]),
            (["python", "and", "numpy"], ["B-Language", "O", "B-Library"]),
            (["I", "like", "python"], ["O", "O", "B-Language"])]:
        data.append((toks, ["O"] * 3, t._model_inputs(toks, ["O"] * 3)[2],
                     gold))
    t.model = AveragedPerceptron()
    t.model.fit(data, epochs=3)
    sents = [(w, md) for w, md, _, _ in data] + [([], [])]
    want = [t.model.tag_sentence(*t._model_inputs(*s)) for s in sents]
    assert want[:3] == [g for *_, g in data]
    assert t.tag_sentences(sents) == want
    t.__dict__.pop("_sent_cache", None)
    assert [t.tag(*s) for s in sents] == want
