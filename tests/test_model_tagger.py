"""M6/M7 checkpoint-backed inference HARNESS (VERDICT r01 missing #5).

The reference's HF eval loop (softner_ner_predict_from_file.py:534-648) has
no runnable counterpart without external weights; this gates the harness
shape instead: wordpiece featurization -> fixed-size batched forward ->
first-wordpiece alignment -> per-word tags, with the forward function
pluggable (deterministic numpy fake here; torch checkpoint on a real
deployment) and executor-singleton loading for the checkpoint path.
"""

import numpy as np
import pytest

from stackoverflowner_spark.kernel.wordpiece import WordPieceVocab
from stackoverflowner_spark.operators.tagger import ModelTagger, model_tag_stage
from stackoverflowner_spark.session import get_spark

LABELS = ["O", "B-Library", "I-Library", "B-Language", "I-Language"]


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-modeltag", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _fake_forward(input_ids, input_mask):
    B, L = input_ids.shape
    logits = np.zeros((B, L, len(LABELS)))
    for b in range(B):
        for l in range(L):
            logits[b, l, int(input_ids[b, l]) % len(LABELS)] = 1.0
    return logits


def _tagger():
    vocab = WordPieceVocab(["python", "numpy", "import", "use", "the",
                            "pandas", "fast"])
    return ModelTagger(LABELS, vocab, forward_fn=_fake_forward,
                       max_seq_length=16, batch_size=2)


def test_harness_total_and_deterministic():
    t = _tagger()
    sents = [(["import", "numpy"], ["O", "O"]),
             (["use", "python", "the", "pandas"], ["O"] * 4),
             (["x" * 500], ["O"])]  # wordpiece-budget overflow -> padded O
    tags = t.tag_sentences(sents)
    assert [len(x) for x in tags] == [2, 4, 1]
    assert t.tag_sentences(sents) == tags                 # deterministic
    assert t.tag(*sents[1]) == tags[1]                    # batch==single


def test_spark_stage_equals_local(spark):
    t = _tagger()
    rows = [(f"u{i}", 0,
             ["use", "python", "the", "pandas"][: 2 + i % 3],
             ["O"] * (2 + i % 3)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "url string, sent_idx int, tokens array<string>, "
              "md_tags array<string>")
    got = {r.url: list(r.model_tags)
           for r in model_tag_stage(df, t).collect()}
    local = {u: t.tag(toks, md) for u, _, toks, md in rows}
    assert got == local


def test_checkpoint_path_raises_cleanly_without_torch():
    t = ModelTagger(LABELS, WordPieceVocab(["x"]),
                    checkpoint_dir="/nonexistent/ckpt")
    with pytest.raises(NotImplementedError):
        t.tag(["x"], ["O"])
    t2 = ModelTagger(LABELS, WordPieceVocab(["x"]))
    with pytest.raises(NotImplementedError):
        t2.tag(["x"], ["O"])


def test_numpy_checkpoint_end_to_end(spark, tmp_path):
    """VERDICT r02 #7: the executor-singleton checkpoint path gets a real
    end-to-end gate — a deterministic few-hundred-kB numpy-transformer
    checkpoint on disk, loaded lazily inside the Spark workers via
    _executor_model_forward, batched forward, alignment back to words —
    the exact code path a torch HF checkpoint takes, minus torch."""
    from stackoverflowner_spark.kernel.np_transformer import NumpyTokenClassifier
    from stackoverflowner_spark.operators import tagger as tg

    vocab = WordPieceVocab(["python", "numpy", "import", "use", "the",
                            "pandas", "fast", "spark"])
    ckpt = str(tmp_path / "mini_ckpt")
    NumpyTokenClassifier.generate(
        vocab_size=len(vocab.token_to_id) + 8, n_labels=len(LABELS),
        max_len=16).save(ckpt)

    t = ModelTagger(LABELS, vocab, checkpoint_dir=ckpt,
                    max_seq_length=16, batch_size=4)
    sents = [(["import", "numpy"], ["O", "O"]),
             (["use", "python", "the", "pandas"], ["O"] * 4),
             (["spark", "fast"], ["O", "O"])]
    local = t.tag_sentences(sents)
    assert [len(x) for x in local] == [2, 4, 2]
    assert all(tag in LABELS for tags in local for tag in tags)
    assert t.tag_sentences(sents) == local                # deterministic
    # singleton: the loaded forward is cached per process and reused
    assert ckpt in tg._EXECUTOR_MODELS
    assert tg._EXECUTOR_MODELS[ckpt] is tg._EXECUTOR_MODELS[ckpt]

    rows = [(f"u{i}", 0, list(sents[i % 3][0]), list(sents[i % 3][1]))
            for i in range(24)]
    df = spark.createDataFrame(
        rows, "url string, sent_idx int, tokens array<string>, "
              "md_tags array<string>")
    got = {r.url: list(r.model_tags) for r in model_tag_stage(df, t).collect()}
    assert got == {f"u{i}": local[i % 3] for i in range(24)}
