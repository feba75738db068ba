"""Tag schemes, prepared-example operator, report formatting."""

import pytest

from stackoverflowner_spark.kernel import tagscheme
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-prep", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_iob1_to_iob2():
    tags = ["I-Class", "I-Class", "O", "I-Function", "B-Function", "I-Class"]
    ok = tagscheme.to_iob2(tags)
    assert ok
    assert tags == ["B-Class", "I-Class", "O", "B-Function", "B-Function", "B-Class"]
    bad = ["X-Class"]
    assert not tagscheme.to_iob2(bad)


def test_iob_iobes_roundtrip():
    iob = ["B-Class", "I-Class", "O", "B-Function", "B-Class", "I-Class", "I-Class"]
    iobes = tagscheme.iob_to_iobes(iob)
    assert iobes == ["B-Class", "E-Class", "O", "S-Function", "B-Class",
                     "I-Class", "E-Class"]
    assert tagscheme.iobes_to_iob(iobes) == iob


def test_zero_digits_and_caps():
    assert tagscheme.zero_digits("v1.2.3") == "v0.0.0"
    assert tagscheme.cap_class("word") == 0
    assert tagscheme.cap_class("WORD") == 1
    assert tagscheme.cap_class("Word") == 2
    assert tagscheme.cap_class("wOrd") == 3


def test_prepare_dataset_operator(spark):
    from stackoverflowner_spark.operators.prepare import (
        UNK_ID, build_char_mapping, build_tag_mapping, prepare_dataset,
        word_mapping_df)
    rows = [
        ("f", 0, ["The", "Python", "API", "works"], ["O", "B-Language", "O", "O"]),
        ("f", 1, ["the", "python", "api", "the", "the"],
         ["O", "B-Language", "O", "O", "O"]),
        ("f", 2, ["the", "python", "api"], ["O", "B-Language", "O"]),
    ]
    df = spark.createDataFrame(
        rows, "file string, sent_idx int, words array<string>, tags array<string>")
    wm_df = word_mapping_df(df, min_freq=3)
    wm = {r.word: r.word_id for r in wm_df.collect()}  # tiny here: test-only
    cm = build_char_mapping(df)
    tm = build_tag_mapping(df)
    assert "the" in wm and "python" in wm and "works" not in wm
    assert min(wm.values()) == 2                 # 0/1 reserved for PAD/UNK
    out = {r.sent_idx: r
           for r in prepare_dataset(df, spark, wm_df, cm, tm).collect()}
    r0 = out[0]
    assert r0.word_ids[0] == wm["the"]           # lowercased lookup
    assert r0.word_ids[3] == UNK_ID              # pruned word -> UNK
    assert r0.caps == [2, 2, 1, 0]
    assert len(r0.char_ids) == 4
    assert all(isinstance(c, int) for cs in r0.char_ids for c in cs)
    assert r0.tag_ids[1] == tm["B-Language"]
    assert r0.str_words == ["The", "Python", "API", "works"]  # order preserved
    # the plan must not collect the word mapping: the lookup is a join
    plan = prepare_dataset(df, spark, wm_df, cm, tm)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert "Join" in plan


def test_format_report():
    from stackoverflowner_spark.operators.evalops import format_report

    report = {"__overall__": {"precision": 80.0, "recall": 40.0, "f1": 53.33,
                              "tp": 4, "guessed": 5, "truth": 10},
              "Class": {"precision": 80.0, "recall": 40.0, "f1": 53.33,
                        "tp": 4, "guessed": 5, "truth": 10}}
    txt = format_report(report)
    assert "overall" in txt and "precision:  80.00%" in txt
    tsv = format_report(report, "tsv")
    assert tsv.splitlines()[0].startswith("type\tPrecision")
    tex = format_report(report, "latex")
    assert tex.startswith("\\begin{tabular}")


def test_partitioned_rank_matches_global_window(spark):
    """Two-pass partition-offset ids (VERDICT r02 #5) must be bit-identical
    to a global row_number over the same (unique) total order, and the plan
    must contain no single-partition Exchange."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from stackoverflowner_spark.operators.prepare import partitioned_rank

    df = spark.range(0, 5000).select(
        F.concat(F.lit("w"), F.col("id")).alias("word"),
        (F.pmod(F.xxhash64("id"), F.lit(97))).alias("freq"))
    order = [F.desc("freq"), F.asc("word")]
    got = {r.word: r.rank for r in
           partitioned_rank(df, order, partitions=8).collect()}
    ref = {r.word: r.rank for r in df.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))).collect()}
    assert got == ref

    plan = (partitioned_rank(df, order, partitions=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_word_mapping_two_pass_plan_and_empty_sentences(spark):
    from pyspark.sql import functions as F

    from stackoverflowner_spark.operators.prepare import (
        build_char_mapping, build_tag_mapping, prepare_dataset,
        word_mapping_df)

    rows = [("f", 0, ["a", "b", "a"], ["O", "O", "O"]),
            ("f", 1, [], []),                       # ADVICE: must survive
            ("f", 2, ["a", "b", "a"], ["O", "O", "O"]),
            ("f", 3, ["a", "c", "a"], ["O", "O", "O"])]
    df = spark.createDataFrame(
        rows, "file string, sent_idx int, words array<string>, tags array<string>")
    wm = word_mapping_df(df, min_freq=3)
    plan = wm._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    out = {r.sent_idx: r for r in
           prepare_dataset(df, spark, wm, build_char_mapping(df),
                           build_tag_mapping(df)).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[1].str_words == [] and out[1].word_ids == []
    assert out[0].word_ids[0] == 2                 # ids start at 2
