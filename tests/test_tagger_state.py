"""The structured tagger's pickled state (``StructuredPerceptron``
``__getstate__``/``__setstate__``): the weights ship as one packed matrix,
load back with the same keys, order and bits, and the legacy dict state of
the shipped artifacts still loads. Spark-free."""

import gc
import pickle

import numpy as np

from stackoverflowner_spark.kernel.perceptron import StructuredPerceptron
from stackoverflowner_spark.operators.tagger import (PerceptronTagger,
                                                     default_tagger)
from tests.test_tagger_decode import _web_sentences


def _same_model(a, b):
    assert a.labels == b.labels
    assert a.trans.tobytes() == b.trans.tobytes()
    assert list(a.w) == list(b.w)
    for k, v in a.w.items():
        got = b.w[k]
        assert got.dtype == np.float64 and got.shape == v.shape, k
        assert got.tobytes() == v.tobytes(), k


def _small_tagger():
    alias = {"numpy": "Library", "python": "Language"}
    t = PerceptronTagger(None, alias)
    data = []
    for toks, gold in [
            (["use", "numpy", "now"], ["O", "B-Library", "O"]),
            (["python", "and", "numpy"], ["B-Language", "O", "B-Library"]),
            (["I", "like", "python"], ["O", "O", "B-Language"])]:
        data.append((toks, ["O"] * 3, t._model_inputs(toks, ["O"] * 3)[2],
                     gold))
    t.model = StructuredPerceptron()
    t.model.fit(data, epochs=3)
    return t, [(w, md) for w, md, _, _ in data]


def test_protocol5_roundtrip_adds_few_tracked_objects():
    # Spark pickles broadcasts at protocol 5; one array per weight vector
    # left two GC-tracked objects each (~168k for the shipped tagger)
    blob = pickle.dumps(default_tagger(), 5)
    gc.collect()
    before = len(gc.get_objects())
    loaded = pickle.loads(blob)
    gc.collect()
    assert len(gc.get_objects()) - before < 1000
    assert isinstance(loaded, PerceptronTagger)


def test_packed_state_keeps_weights_and_tags():
    t = default_tagger()
    loaded = pickle.loads(pickle.dumps(t, 5))
    _same_model(t.model, loaded.model)
    sents = _web_sentences(60)
    t.__dict__.pop("_sent_cache", None)
    assert loaded.tag_sentences(sents) == t.tag_sentences(sents)


def test_legacy_dict_state_loads(monkeypatch):
    t, sents = _small_tagger()
    # the state the shipped artifacts were written with: w as a dict
    monkeypatch.setattr(StructuredPerceptron, "__getstate__",
                        lambda self: dict(self.__dict__))
    blob = pickle.dumps(t.model, 5)
    monkeypatch.undo()
    legacy = pickle.loads(blob)
    _same_model(t.model, legacy)
    _same_model(t.model, pickle.loads(pickle.dumps(legacy, 5)))
    assert legacy.tag_sentences(
        [t._model_inputs(*s) for s in sents]) == [
        t.model.tag_sentence(*t._model_inputs(*s)) for s in sents]


def test_save_load_roundtrip(tmp_path):
    t, sents = _small_tagger()
    path = str(tmp_path / "tagger.pkl.gz")
    t.save(path)
    loaded = PerceptronTagger.load(path)
    _same_model(t.model, loaded.model)
    assert loaded.tag_sentences(sents) == t.tag_sentences(sents)
    empty = pickle.loads(pickle.dumps(StructuredPerceptron(), 5))
    assert empty.w == {} and empty.labels == []
