"""Bitwise parity gate for the compile-on-demand C Viterbi kernel.

The contract (kernel/viterbi_native.py): identical float32 adds in the
same order as the numpy lattice, strict-> first-occurrence tie-breaks —
so decoded paths must be EQUAL (not just tag-equal), including on inputs
engineered to tie. Also gates the end-to-end path: the shipped tagger
artifact must decode a corpus identically with the kernel forced on and
forced off. And the kernel must be refused, with numpy decoding instead,
when its cache directory is writable by others or its inputs break the
layout contract.
"""

import os
import tempfile

import numpy as np
import pytest

from stackoverflowner_spark.kernel import viterbi_native as vn
from stackoverflowner_spark.kernel.perceptron import viterbi_paths_numpy
from stackoverflowner_spark.kernel.viterbi_native import (viterbi_lib,
                                                          viterbi_paths)


def test_kernel_builds():
    # this box ships cc; if the kernel cannot build here the optimization
    # is silently off — fail loudly instead
    assert viterbi_lib() is not None


@pytest.mark.parametrize("seed,B,n,L", [
    (0, 64, 12, 41), (1, 128, 54, 41), (2, 7, 1, 41), (3, 33, 3, 5),
    (4, 256, 21, 13),
])
def test_paths_bitwise_equal_random(seed, B, n, L):
    lib = viterbi_lib()
    assert lib is not None
    rng = np.random.default_rng(seed)
    T = rng.standard_normal((L + 1, L)).astype(np.float32)
    # START -> I-* style pins, like the trained matrix
    T[L, ::3] = -10000.0
    E = rng.standard_normal((B, n, L)).astype(np.float32)
    assert np.array_equal(viterbi_paths(lib, E, T), viterbi_paths_numpy(E, T))


def test_paths_bitwise_equal_with_ties():
    lib = viterbi_lib()
    assert lib is not None
    rng = np.random.default_rng(7)
    L, B, n = 11, 96, 17
    T = rng.integers(-3, 4, size=(L + 1, L)).astype(np.float32)
    E = rng.integers(-2, 3, size=(B, n, L)).astype(np.float32)
    # integer-valued floats force exact score ties: first-occurrence
    # tie-breaks must agree everywhere
    assert np.array_equal(viterbi_paths(lib, E, T), viterbi_paths_numpy(E, T))


def _artifact_and_corpus():
    from stackoverflowner_spark.operators.tagger import default_tagger

    tagger = default_tagger()
    if not hasattr(tagger, "model"):
        pytest.skip("no perceptron artifact shipped")
    sents = []
    rng = np.random.default_rng(11)
    words = ["numpy", "uses", "ndarray", "objects", "with", "dtype",
             "float32", "and", "pandas", "DataFrame", "joins", ".",
             "select", "(", ")", "the", "quick", "fox"]
    for _ in range(200):
        k = int(rng.integers(1, 14))
        toks = [words[int(i)] for i in rng.integers(0, len(words), size=k)]
        sents.append((toks, ["O"] * k))
    return tagger, sents


def _cold_decode(tagger, sents):
    tagger.__dict__.pop("_sent_cache", None)
    return tagger.tag_sentences(sents)


def test_artifact_decode_identical_native_on_off(monkeypatch):
    tagger, sents = _artifact_and_corpus()
    got_native = _cold_decode(tagger, sents)
    # force the numpy path by making the lib lookup fail
    monkeypatch.setattr(
        "stackoverflowner_spark.kernel.viterbi_native.viterbi_lib",
        lambda: None)
    assert _cold_decode(tagger, sents) == got_native


@pytest.mark.parametrize("mode", [0o770, 0o707, 0o777], ids=oct)
def test_shared_cache_dir_refused_numpy_decodes(monkeypatch, tmp_path, mode):
    tagger, sents = _artifact_and_corpus()
    want = _cold_decode(tagger, sents)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cache = tmp_path / f"sokg_viterbi_cache_{os.getuid()}"
    cache.mkdir()
    os.chmod(cache, mode)
    monkeypatch.setattr(vn, "_CACHED", {})
    assert viterbi_lib() is None
    assert not any(cache.iterdir())  # nothing compiled into it either
    assert _cold_decode(tagger, sents) == want
    # the same directory made private is accepted: the refusal above was
    # the mode check, not a missing compiler
    os.chmod(cache, 0o700)
    monkeypatch.setattr(vn, "_CACHED", {})
    assert viterbi_lib() is not None


def test_viterbi_paths_refuses_bad_layout():
    lib = viterbi_lib()
    assert lib is not None
    rng = np.random.default_rng(3)
    L, B, n = 7, 4, 5
    T = rng.standard_normal((L + 1, L)).astype(np.float32)
    E = rng.standard_normal((B, n, L)).astype(np.float32)
    assert viterbi_paths(lib, E, T) is not None
    assert viterbi_paths(lib, E.astype(np.float64), T) is None
    assert viterbi_paths(lib, E, T.astype(np.float64)) is None
    assert viterbi_paths(lib, E[:, ::-1], T) is None      # not C-contiguous
    assert viterbi_paths(lib, E, np.asfortranarray(T)) is None
    assert viterbi_paths(lib, E, T[:L]) is None            # no START row
    assert viterbi_paths(lib, E[0], T) is None             # not (B, n, L)
