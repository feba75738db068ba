"""Line-frequency boilerplate removal: planted specimens for every
decision class, the normalization identity, threshold edges (strict-
greater ratio, min_docs guard), reassembly exactness, plan shape, and
the strict driver-criterion oracle gate for the ``boilerplate`` entry.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.boilerplate import (
    doc_lines, flag_lines, host_doc_counts, remove_boilerplate)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-boilerplate", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, host string, text string")


# host A: 4 docs. nav line in all 4 (case/whitespace-varied), promo in
# 2 of 4 (50%), unique content per doc. host B: 1 doc whose every line
# would be "100% of the host" — the min_docs guard must keep it whole.
CORPUS = [
    (1, "a", "Home | About\ncontent one\nSubscribe now"),
    (2, "a", "HOME   |  ABOUT\ncontent two\nSubscribe now"),
    (3, "a", "home | about\ncontent three"),
    (4, "a", " Home | About \ncontent four\n\ncontent four b"),
    (5, "b", "Home | About\nlonely content"),
]


def test_normalization_merges_case_and_whitespace(spark):
    lines = doc_lines(_docs(spark, CORPUS))
    nav = (lines.filter(F.col("line").rlike("(?i)home"))
           .select("lhash").distinct().collect())
    assert len(nav) == 1  # all four spellings share one identity
    # blank line in doc 4 dropped entirely
    assert lines.filter(F.col("doc_id") == 4).count() == 3


def test_frequency_and_flags_by_hand(spark):
    docs = _docs(spark, CORPUS)
    hd = {r.host: r.host_docs for r in host_doc_counts(docs).collect()}
    assert hd == {"a": 4, "b": 1}

    flagged = flag_lines(docs, min_docs=2, max_ratio_x10=3)
    rows = {(r.doc_id, r.line): r.keep for r in flagged.collect()}
    # nav: 4/4 docs on host a > 30% -> removed everywhere on a
    assert rows[(1, "Home | About")] == 0
    assert rows[(2, "HOME   |  ABOUT")] == 0
    # promo: 2/4 = 50% > 30% and >= min_docs -> removed
    assert rows[(1, "Subscribe now")] == 0
    # unique content always kept
    assert rows[(3, "content three")] == 1
    # host b has one doc: 1-of-1 fails min_docs -> everything kept
    assert rows[(5, "Home | About")] == 1
    assert rows[(5, "lonely content")] == 1


def test_ratio_is_strictly_greater(spark):
    # 2 of 4 docs share a line; at max_ratio_x10=5 the ratio test is
    # 2*10 > 5*4 == 20 > 20 -> FALSE: exactly-at-threshold is kept.
    docs = _docs(spark, [
        (1, "h", "shared\nu1"), (2, "h", "shared\nu2"),
        (3, "h", "u3"), (4, "h", "u4")])
    flagged = {(r.doc_id, r.line): r.keep
               for r in flag_lines(docs, max_ratio_x10=5).collect()}
    assert flagged[(1, "shared")] == 1
    # one tick tighter and it flips
    flagged4 = {(r.doc_id, r.line): r.keep
                for r in flag_lines(docs, max_ratio_x10=4).collect()}
    assert flagged4[(1, "shared")] == 0


def test_remove_reassembles_in_order(spark):
    docs = _docs(spark, CORPUS)
    out = {r.doc_id: r for r in remove_boilerplate(docs).collect()}
    assert (out[4].n_lines, out[4].n_kept) == (3, 2)
    assert out[4].clean_text == "content four\ncontent four b"
    assert out[1].clean_text == "content one"
    # host b untouched (min_docs guard), original order kept
    assert out[5].clean_text == "Home | About\nlonely content"
    # all-boilerplate doc -> NULL clean_text, and an all-blank doc
    # -> zero lines, NULL clean_text
    docs2 = _docs(spark, [(1, "h", "nav"), (2, "h", "nav"),
                          (3, "h", "nav"), (9, "h", "\n \n")])
    out2 = {r.doc_id: r for r in remove_boilerplate(docs2).collect()}
    assert (out2[1].n_lines, out2[1].n_kept, out2[1].clean_text) \
        == (1, 0, None)
    assert (out2[9].n_lines, out2[9].n_kept, out2[9].clean_text) \
        == (0, 0, None)


def test_param_validation(spark):
    docs = _docs(spark, CORPUS)
    with pytest.raises(ValueError):
        flag_lines(docs, max_ratio_x10=11)
    with pytest.raises(ValueError):
        flag_lines(docs, min_docs=1)


def _entry(name):
    from tests.oracle_harness import load_entry
    return getattr(load_entry(), name)


def test_driver_entry_classes_non_vacuous(spark):
    out = _entry("q_boilerplate")(spark, SF).cache()
    try:
        total = out.count()
        assert total > 0
        # promo-bearing pages (5 lines, ~75% of docs) and promo-free
        # pages (4 lines) both present; nav + footer (+ promo where
        # present) always removed, content + ref always kept
        assert out.filter(F.col("n_lines") == 5).count() > 0
        assert out.filter(F.col("n_lines") == 4).count() > 0
        assert out.filter(F.col("n_kept") != 2).count() == 0
        # the kept 'ref section' class includes host-frequent lines
        # (n_docs >= 2 but under the 30% ratio) — the under-ratio keep
        # class is non-vacuous, not just unique-line keeps
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        hx = F.md5(F.col("doc_id").cast("string"))
        refs = docs.select(
            F.col("source").alias("host"),
            F.concat(F.lit("ref section "),
                     F.substring(hx, 2, 1)).alias("line"))
        multi = (refs.groupBy("host", "line").count()
                 .filter(F.col("count") >= 2).count())
        assert multi > 0
    finally:
        out.unpersist()


def test_driver_oracle_strict(spark):
    from tests.oracle_harness import run_all
    res = run_all(spark, SF, only=["boilerplate"], strict=True)
    assert res["boilerplate"] == [], res["boilerplate"]


def test_plan_shape(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("source").alias("host"), "text")
    plan = (remove_boilerplate(docs)
            ._jdf.queryExecution().executedPlan().toString())
    # zero Python in the plan — the operator is pure column expressions
    assert "Python" not in plan and "MapInPandas" not in plan
    # the hosts-sized doc totals ride a broadcast; never all-pairs
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the corpus-side shuffle budget: line-freq agg (2 for the distinct
    # rewrite), the stats join-back, the doc reassembly, the final
    # retain join — bounded, never growing with plan drift
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 6, plan
