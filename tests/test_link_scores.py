"""Link scores live on the dictionary: every builder computes ``link_score``
once per alias, and the linker is a plain join filtered on it.

The reference for the score is the JVM fold the linker used to run per link
call: ``aggregate(zip_with(surf_emb, embedding, a*b))`` over the alias's
float64 hashed embedding and the row's float32 embedding, divided by
``greatest(sqrt(sum of squares), 1e-12)``. Comparing it bitwise against the
stored ``link_score`` pins the summation order, so a switch to ``np.dot`` (or
any other reordering) fails here.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.kernel.ctc import hashed_embedding
from stackoverflowner_spark.operators.link import (
    MIN_LINK_SCORE, link, link_broadcast)
from stackoverflowner_spark.session import get_spark
from stackoverflowner_spark.sources.dictionary import dictionary_df
from stackoverflowner_spark.sources.golddict import dictionary_from_gold

EXTRA = [("window", "User_Interface_Element"), ("merge", "Algorithm")]


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-linkscores", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _reference_scores(spark, d):
    """(link_score, reference) for every dictionary row."""
    aliases = [r.alias_norm for r in d.select("alias_norm").distinct().collect()]
    surf = spark.createDataFrame(
        [(a, [float(x) for x in hashed_embedding([a], dim=64)[0]])
         for a in aliases],
        "alias_norm string, surf_emb array<double>")
    dot = F.aggregate(
        F.zip_with("surf_emb", "embedding",
                   lambda a, b: a * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    dnorm = F.sqrt(F.aggregate(
        F.zip_with("embedding", "embedding",
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    return [(r.link_score, r.ref) for r in d.join(surf, "alias_norm").select(
        "link_score", (dot / F.greatest(dnorm, F.lit(1e-12))).alias("ref"))
        .collect()]


def _mentions(spark, surfaces):
    rows = [(f"https://h/{i}", 0, 0, 1, s, s.lower(), "dict")
            for i, s in enumerate(surfaces)]
    return spark.createDataFrame(
        rows, "url string, sent_idx int, tok_start int, tok_end int, "
              "surface string, surface_norm string, tag_type string")


@pytest.mark.parametrize("extra", [None, EXTRA], ids=["seed", "extra"])
def test_dictionary_link_score_matches_jvm_fold(spark, extra):
    d = dictionary_df(spark, extra)
    pairs = _reference_scores(spark, d)
    assert len(pairs) == d.count() > 0
    assert all(s.hex() == ref.hex() for s, ref in pairs), [
        (s, ref) for s, ref in pairs if s != ref][:5]
    assert min(s for s, _ in pairs) >= MIN_LINK_SCORE


def test_gold_dictionary_scored_and_links(spark):
    rows = [
        (["I", "use", "Python", "with", "pandas"],
         ["O", "O", "B-Language", "O", "B-Library"]),
        (["python", "and", "Visual", "Studio"],
         ["B-Language", "O", "B-Application", "I-Application"]),
        (["Visual", "Studio", "crashed", "with", "pandas"],
         ["B-Application", "I-Application", "O", "O", "B-Library"]),
    ]
    gold = spark.createDataFrame(rows, "words array<string>, tags array<string>")
    d = dictionary_from_gold(gold, min_count=2).cache()
    assert "link_score" in d.columns
    assert {r.alias_norm for r in d.select("alias_norm").collect()} == {
        "python", "pandas", "visual studio"}
    pairs = _reference_scores(spark, d)
    assert len(pairs) == d.count()
    assert all(s.hex() == ref.hex() for s, ref in pairs)
    got = {(r.surface, r.canonical_id, r.entity_type) for r in
           link_broadcast(_mentions(spark, ["Python", "numpy"]), d).collect()}
    assert got == {("Python", "soft:python", "Language")}


def test_unknown_link_strategy_rejected(spark):
    d = dictionary_df(spark)
    m = _mentions(spark, ["pandas", "pythxon", "zzzzzz"])
    with pytest.raises(ValueError, match=r"broadcast\|salted\|fuzzy"):
        link(m, d, "salt")
    got = {s: {(r.surface, r.canonical_id) for r in link(m, d, s).collect()}
           for s in ("broadcast", "salted", "fuzzy")}
    assert got["broadcast"] == got["salted"] == {("pandas", "soft:pandas")}
    assert got["fuzzy"] == {("pandas", "soft:pandas"),
                            ("pythxon", "soft:python")}
