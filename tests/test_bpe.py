"""BPE pair-count gate (operators/bpe.py): the distributed adjacent-pair
counts over the (word, cnt) table equal a single-process count over the
same words, end-of-word marker included.
"""

import pytest

from stackoverflowner_spark.operators.bpe import (END, _initial_seqs,
                                                  pair_counts, word_counts)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-bpe", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_pair_counts_match_reference_first_iteration(spark, docs):
    wc = word_counts(docs)
    local = {r.word: r.cnt for r in wc.collect()}
    counts = {}
    for w, c in local.items():
        seq = list(w) + [END]
        for i in range(len(seq) - 1):
            p = (seq[i], seq[i + 1])
            counts[p] = counts.get(p, 0) + c
    got = {(r.a, r.b): r.n for r in
           pair_counts(_initial_seqs(wc)).collect()}
    assert got == counts
