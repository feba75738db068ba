"""DSIR sufficient statistics (operators/dsir.py).

Gates: (a) bucket featurization parity vs hashlib.md5 in pure Python;
(b) integer stats parity vs Counter.
"""

import hashlib
from collections import Counter

import pytest

from stackoverflowner_spark.operators.dsir import (dsir_bucket_stats,
                                                   hashed_bigram_buckets)
from stackoverflowner_spark.session import get_spark

B = 64  # small bucket count so collisions actually happen in tests


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-dsir", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _bigrams(text):
    ws = [w for w in text.split(" ") if w]
    return [f"{a} {b}" for a, b in zip(ws, ws[1:])]


def _bucket(gram, buckets=B):
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % buckets


# several copies of the target style, so target buckets collect counts
# above 1 (raw includes doc10's own occurrences)
_T = "spark sql query engine optimizes the query plan"
TARGET = [(1, _T), (2, _T), (3, _T), (4, _T)]
RAW = [
    (10, _T),
    (11, "cats and dogs and cats and dogs"),
    (12, "the weather today is mild and sunny"),
    (13, ""),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bucket_featurization_parity(spark):
    got = {(r.doc_id, r.bucket): r.c
           for r in hashed_bigram_buckets(_df(spark, RAW),
                                          buckets=B).collect()}
    want = Counter()
    for i, t in RAW:
        for g in _bigrams(t):
            want[(i, _bucket(g))] += 1
    assert got == dict(want)


def test_stats_parity(spark):
    got = {r.bucket: (r.target_c, r.raw_c)
           for r in dsir_bucket_stats(_df(spark, TARGET), _df(spark, RAW),
                                      buckets=B).collect()}
    tc, rc = Counter(), Counter()
    for i, t in TARGET:
        for g in _bigrams(t):
            tc[_bucket(g)] += 1
    for i, t in RAW:
        for g in _bigrams(t):
            rc[_bucket(g)] += 1
    want = {b: (tc.get(b, 0), rc.get(b, 0)) for b in set(tc) | set(rc)}
    assert got == want

