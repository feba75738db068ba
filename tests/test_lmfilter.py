"""Bigram-LM quality filter: hand-computed counts and bit-costs on a
planted corpus, keep-rule edges, plan shape, and the strict
driver-criterion oracle gate for the ``lm_score`` entry.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.lmfilter import (
    keep_by_bitcost, score_bitcost, train_bigram_lm)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-lmfilter", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# reference slice: "a b a b c" -> bigrams (a,b)x2? no: a-b, b-a, a-b? see test
REF = [(1, "a b a b c")]


def test_trained_counts_by_hand(spark):
    ref = _docs(spark, REF)
    uni, big, vocab = train_bigram_lm(ref)
    # tokens: a b a b c -> bigrams (a,b) (b,a) (a,b) (b,c)
    u = {r.w1: r.c1 for r in uni.collect()}
    assert u == {"a": 2, "b": 2}
    b = {(r.w1, r.w2): r.c12 for r in big.collect()}
    assert b == {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}
    assert vocab == 3


def bitlen(n: int) -> int:
    return n.bit_length()


def test_bitcost_by_hand(spark):
    ref = _docs(spark, REF)
    uni, big, vocab = train_bigram_lm(ref)   # V = 3
    docs = _docs(spark, [(10, "a b z"), (11, "q")])
    out = {r.doc_id: r for r in
           score_bitcost(docs, uni, big, vocab).collect()}
    # doc 10 bigrams: (a,b): c1=2,c12=2 -> bitlen(2+3)-bitlen(3) = 3-2 = 1
    #                 (b,z): c1=2,c12=0 -> bitlen(5)-bitlen(1) = 3-1 = 2
    r = out[10]
    assert (r.n_bigrams, r.known_ctx, r.known_bigram, r.sum_bits) == (2, 2, 1, 3)
    # doc 11 too short for a bigram -> all-zero row, kept by the filter
    r = out[11]
    assert (r.n_bigrams, r.sum_bits) == (0, 0)
    kept = {x.doc_id: x.keep for x in
            keep_by_bitcost(score_bitcost(docs, uni, big, vocab),
                            max_bits_x10=15).collect()}
    assert kept == {10: 1, 11: 1}   # 3 bits / 2 bigrams = 1.5 <= 1.5
    kept = {x.doc_id: x.keep for x in
            keep_by_bitcost(score_bitcost(docs, uni, big, vocab),
                            max_bits_x10=14).collect()}
    assert kept == {10: 0, 11: 1}   # strict rational boundary


def test_unseen_context_costs_bitlen_v(spark):
    ref = _docs(spark, REF)
    uni, big, vocab = train_bigram_lm(ref)
    docs = _docs(spark, [(20, "x y")])
    r = score_bitcost(docs, uni, big, vocab).first()
    # (x,y): c1=0, c12=0 -> bitlen(0+3) - bitlen(1) = 2 - 1 = 1
    assert (r.known_ctx, r.known_bigram, r.sum_bits) == (0, 0, 1)


def test_broadcast_join_plan(spark):
    """The corpus-side score path: model tables ride broadcast joins,
    no Python, and the only aggregation shuffle is keyed on doc_id."""
    ref = _docs(spark, REF)
    uni, big, vocab = train_bigram_lm(ref)
    docs = _docs(spark, [(10, "a b c")])
    plan = (score_bitcost(docs, uni, big, vocab)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_driver_oracle_strict(spark):
    """Reproduce the driver's bitwise criterion for the new entry, and
    assert the keep flag is non-vacuous at this SF."""
    from tests.oracle_harness import load_entry, run_all
    res = run_all(spark, SF, only=["lm_score"], strict=True)
    assert res["lm_score"] == [], res["lm_score"]
    mod = load_entry()
    flags = {r.keep for r in
             mod.q_lm_score(spark, SF).select("keep").distinct().collect()}
    assert flags == {0, 1}
