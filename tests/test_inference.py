"""RDFS-style forward-chaining inference (operators/inference.py):
closure semantics on planted graphs (chain / diamond / cycle), rule
semantics (multi-hop rdfs9/rdfs7, rdfs7-before-rdfs9 stratification,
idempotence), the broadcast plan shape, and the strict driver-criterion
oracle gate for the from-birth rotation entry kg_inference.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.inference import (
    rdfs_materialize, transitive_closure)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-inference", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _tri(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _pairs(df):
    return {(r.src, r.dst) for r in df.collect()}


def _triples(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def test_closure_chain(spark):
    got = _pairs(transitive_closure(_edges(spark, [
        ("a", "b"), ("b", "c"), ("c", "d")])))
    assert got == {("a", "b"), ("b", "c"), ("c", "d"),
                   ("a", "c"), ("b", "d"), ("a", "d")}


def test_closure_diamond_dedups(spark):
    # two length-2 paths a->d must yield ONE (a, d) pair
    got = _pairs(transitive_closure(_edges(spark, [
        ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])))
    assert got == {("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
                   ("a", "d")}


def test_closure_cycle_terminates(spark):
    # 3-cycle: every ordered pair including self-reachability
    got = _pairs(transitive_closure(_edges(spark, [
        ("a", "b"), ("b", "c"), ("c", "a")])))
    assert got == {(x, y) for x in "abc" for y in "abc"}


def test_closure_depth_guard(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
    with pytest.raises(RuntimeError, match="max_iter"):
        transitive_closure(_edges(spark, chain), max_iter=2)


def test_rdfs9_multihop_and_rdfs11(spark):
    out = _triples(rdfs_materialize(_tri(spark, [
        ("x", "instance_of", "A"),
        ("A", "subclass_of", "B"),
        ("B", "subclass_of", "C"),
    ])))
    # rdfs9 lifts x through BOTH hops; rdfs11 materializes A->C
    assert ("x", "instance_of", "B") in out
    assert ("x", "instance_of", "C") in out
    assert ("A", "subclass_of", "C") in out
    # asserted rows survive
    assert ("x", "instance_of", "A") in out
    assert len(out) == 6


def test_rdfs7_multihop(spark):
    out = _triples(rdfs_materialize(_tri(spark, [
        ("x", "p", "y"),
        ("p", "subproperty_of", "q"),
        ("q", "subproperty_of", "r"),
    ])))
    assert ("x", "q", "y") in out and ("x", "r", "y") in out
    assert ("p", "subproperty_of", "r") in out


def test_rdfs7_feeds_rdfs9(spark):
    # a subproperty of instance_of creates a type assertion that rdfs9
    # must then lift through the class tree — the stratification case
    out = _triples(rdfs_materialize(_tri(spark, [
        ("x", "typed_as", "A"),
        ("typed_as", "subproperty_of", "instance_of"),
        ("A", "subclass_of", "B"),
    ])))
    assert ("x", "instance_of", "A") in out
    assert ("x", "instance_of", "B") in out


def test_materialize_idempotent(spark):
    base = _tri(spark, [
        ("x", "instance_of", "A"),
        ("A", "subclass_of", "B"),
        ("B", "subclass_of", "C"),
        ("x", "p", "y"),
        ("p", "subproperty_of", "q"),
    ])
    once = rdfs_materialize(base)
    twice = rdfs_materialize(once, already_distinct=True)
    assert _triples(once) == _triples(twice)


def test_no_schema_is_passthrough(spark):
    rows = [("x", "mentioned_in", "u1"), ("y", "instance_of", "T")]
    out = _triples(rdfs_materialize(_tri(spark, rows)))
    assert out == set(rows)


def test_plan_broadcasts_schema(spark):
    # the corpus-side rule joins must be broadcast hash joins (schema is
    # ontology-sized); a sort-merge join here would shuffle the corpus
    big = _tri(spark, [(f"e{i}", "instance_of", "A") for i in range(50)]
               + [("A", "subclass_of", "B")])
    plan = rdfs_materialize(big)._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_driver_oracle_strict_kg_inference(spark):
    from tests.oracle_harness import compare, duck_con, load_entry
    mod = load_entry()
    sdf = mod.q_kg_inference(spark, SF).toPandas()
    odf = duck_con(SF).execute(mod.oracle_sql()["kg_inference"]).df()
    assert compare("kg_inference", sdf, odf, strict=True) == []
    # non-vacuous: multi-hop class lift and multi-hop property lift both
    # present in the output at this SF
    got = {(r.subj, r.pred, r.obj) for r in
           mod.q_kg_inference(spark, SF).collect()}
    assert any(p == "instance_of" and o == "Concept" for _, p, o in got)
    assert any(p == "related_to" for _, p, o in got)
    assert any(p == "subclass_of" and o == "Concept" and s == "Algorithm"
               for s, p, o in got)
