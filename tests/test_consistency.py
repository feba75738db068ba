"""Document-level label-consistency: kernel semantics + Spark parity.

kernel/docconsist.py is the in-fused-path authority; operators/
consistency.py ``propagate_mentions`` is its Spark twin. This gates (a) the
kernel's vote/majority/shape/tie rules on worked examples, (b) kernel ==
twin equality, read as chunk sets, on a generated multi-document corpus
with type-switching ``I-`` tags, (c) the strict driver oracle for the
``doc_consistency`` entry.
"""

import random

import pytest

from stackoverflowner_spark.kernel.conlleval import extract_chunks
from stackoverflowner_spark.kernel.docconsist import (
    collect_votes, doc_postpass, majority_labels, name_like)
from stackoverflowner_spark.operators.consistency import propagate_mentions
from stackoverflowner_spark.operators.document_kernel import MENTIONS_SCHEMA
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-consistency", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_name_like_gate():
    assert name_like("Docker")
    assert name_like("rgeo/rgeo")
    assert name_like("log4j")
    assert name_like("PASTA")
    assert not name_like("the")          # no upper/digit/ident char
    assert not name_like("a")            # too short
    assert not name_like("!!")           # no alnum
    assert not name_like("X")            # too short


def test_propagation_worked_example():
    toks = [["I", "use", "Docker", "daily"],
            ["docker", "is", "not", "Docker"],
            ["Docker", "rocks"]]
    tags = [["O", "O", "B-Application", "O"],
            ["O", "O", "O", "O"],
            ["O", "O"]]
    out = doc_postpass(toks, tags)
    # exact-case only: "docker" stays O, both other "Docker" flip
    assert out[0] == ["O", "O", "B-Application", "O"]
    assert out[1] == ["O", "O", "O", "B-Application"]
    assert out[2] == ["B-Application", "O"]


def test_ties_and_multitoken_do_not_vote():
    toks = [["Spark", "x"], ["Spark", "y"], ["Visual", "Studio"], ["Studio"]]
    tags = [["B-Application", "O"], ["B-Library", "O"],
            ["B-Application", "I-Application"], ["O"]]
    votes = collect_votes(toks, tags)
    assert "Visual" not in votes and "Studio" not in votes
    assert majority_labels(votes) == {}          # 1-1 tie -> no propagation
    out = doc_postpass(toks, tags)
    assert out == tags                           # nothing changed
    # one confident mention is enough
    toks2 = [["Redis", "a"], ["Redis", "b"]]
    tags2 = [["B-Application", "O"], ["O", "O"]]
    assert doc_postpass(toks2, tags2)[1][0] == "B-Application"


def test_existing_chunks_never_touched():
    toks = [["Redis"], ["Redis", "Redis"], ["Redis"]]
    tags = [["B-Application"], ["B-Library", "I-Library"], ["O"]]
    out = doc_postpass(toks, tags)
    # the 2-token Library chunk survives verbatim (only O positions are
    # rewritten), and only the single-token mention voted
    assert out[0] == ["B-Application"]
    assert out[1] == ["B-Library", "I-Library"]
    assert out[2] == ["B-Application"]


def _synth_corpus(n_docs=40, seed=20260818):
    """Deterministic multi-doc corpus with entity mentions, ties, case
    variants, punctuation, I- continuations and type-switching I- tags
    (``B-X I-Y``: conlleval reads two chunks, so ``B-X`` is a single)."""
    rng = random.Random(seed)
    switch = random.Random(seed + 1)
    names = ["Docker", "PASTA", "log4j", "rgeo/rgeo", "Makeen", "numpy",
             "TaskWarrior", "Redis", "the", "x"]
    types = ["Application", "Library", "Language"]
    fill = ["uses", "the", "tool", "with", "and", "see", "also", "a", "run"]
    docs = []
    for d in range(n_docs):
        sents = []
        for s in range(rng.randint(2, 6)):
            toks, tags = [], []
            for _ in range(rng.randint(3, 9)):
                r = rng.random()
                if r < 0.25:
                    toks.append(rng.choice(names))
                    tags.append("B-" + rng.choice(types)
                                if rng.random() < 0.5 else "O")
                elif r < 0.3:
                    toks.append(rng.choice("={}[]()"))
                    tags.append("B-Code_Block" if rng.random() < 0.5 else "O")
                else:
                    toks.append(rng.choice(fill))
                    tags.append("O")
            # occasionally continue the last chunk
            if len(toks) >= 2 and tags[-2].startswith("B-") \
                    and rng.random() < 0.3:
                tags[-1] = "I-" + tags[-2][2:]
            for i in range(1, len(tags)):
                if tags[i - 1] != "O" and switch.random() < 0.3:
                    tags[i] = "I-" + switch.choice(
                        [t for t in types if t != tags[i - 1][2:]])
            sents.append((toks, tags))
        docs.append((f"doc://{d}", sents))
    return docs


def _chunk_rows(url, sents):
    for si, (toks, tags) in enumerate(sents):
        for typ, a, b in extract_chunks(tags):
            surface = " ".join(toks[a:b])
            yield (url, si, a, b, surface, surface.lower(), typ)


def test_spark_matches_kernel_on_synth_corpus(spark):
    docs = _synth_corpus()
    mentions, tokens = [], []
    for url, sents in docs:
        mentions.extend(_chunk_rows(url, sents))
        for si, (toks, _) in enumerate(sents):
            tokens.extend((url, si, p, tok) for p, tok in enumerate(toks))
    # the corpus must exercise the type switch (B-X I-Y: two chunks, the
    # first a voting single) and actually propagate something
    assert any(a.startswith("B-") and b.startswith("I-") and a[2:] != b[2:]
               for _, sents in docs for _, tags in sents
               for a, b in zip(tags, tags[1:]))
    m = spark.createDataFrame(mentions, MENTIONS_SCHEMA)
    t = spark.createDataFrame(
        tokens, "url string, sent_idx int, pos int, token string")
    got = {(r.url, r.sent_idx, r.tag_type, r.tok_start, r.tok_end)
           for r in propagate_mentions(m, t).collect()}
    want = set()
    for url, sents in docs:
        new = doc_postpass([tk for tk, _ in sents], [tg for _, tg in sents])
        for si, tags in enumerate(new):
            want.update((url, si, typ, a, b)
                        for typ, a, b in extract_chunks(tags))
    assert len(want) > len(mentions)
    assert got == want


def test_doc_postpass_order():
    # a punct Code_Block single survives verbatim and, failing the shape
    # gate, does not propagate either
    toks = [["=", "a"], ["=", "b"]]
    tags = [["B-Code_Block", "O"], ["O", "O"]]
    assert doc_postpass(toks, tags) == [["B-Code_Block", "O"], ["O", "O"]]


def test_driver_oracle_strict(spark):
    from tests.oracle_harness import run_all
    res = run_all(spark, SF, only=["doc_consistency"], strict=True)
    assert res["doc_consistency"] == [], res["doc_consistency"]
