"""N-Triples export gates: line grammar, per-predicate term shapes,
literal/IRI escaping specimens, distinct semantics."""

import re

import pytest

from stackoverflowner_spark.operators.triples import ntriples_lines
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-ntriples", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _lines(spark, rows):
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, url string")
    return sorted(r.line for r in ntriples_lines(df).collect())


def test_term_shapes_per_predicate(spark):
    rows = [("soft:python", "instance_of", "Language", "u"),
            ("soft:python", "mentioned_in", "doc://7", "u"),
            ("python", "alias_of", "soft:python", "u")]
    got = _lines(spark, rows)
    assert got == [
        '<https://kg.example/ent/python> <https://kg.example/pred/'
        'alias_of> <https://kg.example/ent/soft:python> .',
        '<https://kg.example/ent/soft:python> <https://kg.example/pred/'
        'instance_of> "Language" .',
        '<https://kg.example/ent/soft:python> <https://kg.example/pred/'
        'mentioned_in> <doc://7> .',
    ]
    # every line matches the N-Triples line grammar
    pat = re.compile(r'^<[^<>"\s]+> <[^<>"\s]+> '
                     r'(<[^<>"\s]+>|"(\\.|[^"\\])*") \.$')
    for ln in got:
        assert pat.match(ln), ln


def test_literal_escaping(spark):
    rows = [("e", "instance_of", 'say "hi"\n\tback\\slash', "u")]
    (ln,) = _lines(spark, rows)
    assert ln == ('<https://kg.example/ent/e> '
                  '<https://kg.example/pred/instance_of> '
                  '"say \\"hi\\"\\n\\tback\\\\slash" .')


def test_iri_escaping(spark):
    rows = [("bad id<>|", "alias_of", "ok", "u")]
    (ln,) = _lines(spark, rows)
    assert ln.startswith('<https://kg.example/ent/bad%20id%3C%3E%7C> ')
    # percent signs themselves encode first (no double-encoding)
    rows2 = [("50%", "alias_of", "ok", "u")]
    (ln2,) = _lines(spark, rows2)
    assert ln2.startswith('<https://kg.example/ent/50%25> ')


def test_evidence_rows_collapse_to_distinct_triples(spark):
    rows = [("a", "alias_of", "b", "u1"), ("a", "alias_of", "b", "u2")]
    assert len(_lines(spark, rows)) == 1

# ---- parse_ntriples: the read side (r5o) ----

def _roundtrip(spark, rows):
    from stackoverflowner_spark.operators.triples import parse_ntriples
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, url string")
    nt = ntriples_lines(df).withColumnRenamed("line", "value")
    back = parse_ntriples(nt)
    return {(r.subj, r.pred, r.obj) for r in back.collect()}


def test_parse_roundtrip_basic(spark):
    rows = [("soft:python", "instance_of", "Language", "u"),
            ("soft:python", "mentioned_in", "doc://7", "u"),
            ("python", "alias_of", "soft:python", "u")]
    assert _roundtrip(spark, rows) == {
        (s, p, o) for s, p, o, _ in rows}


def test_parse_roundtrip_hostile_strings(spark):
    # every escape class the exporter handles: backslash-before-n
    # (must NOT come back as newline), real control chars, quotes,
    # percent signs and IRI-forbidden characters in ids
    rows = [
        ("a b", "instance_of", 'say "hi"\n\tdone', "u"),
        ("c\\d", "instance_of", "back\\nslash", "u"),
        ("p%20q", "instance_of", "lit\rwith\tctl", "u"),
        ("x<y>|z", "mentioned_in", "page://with space", "u"),
        ("e", "alias_of", "f{g}^h`i", "u"),
    ]
    assert _roundtrip(spark, rows) == {
        (s, p, o) for s, p, o, _ in rows}


def test_parse_drops_comments_blank_and_malformed(spark):
    from stackoverflowner_spark.operators.triples import parse_ntriples
    txt = [
        "# a comment line",
        "",
        "<https://kg.example/ent/a> <https://kg.example/pred/alias_of> "
        "<https://kg.example/ent/b> .",
        "not a triple at all",
        "<https://kg.example/ent/x> <https://kg.example/pred/p> .",
    ]
    df = spark.createDataFrame([(t,) for t in txt], "value string")
    got = [(r.subj, r.pred, r.obj) for r in parse_ntriples(df).collect()]
    assert got == [("a", "alias_of", "b")]


def test_parse_foreign_iris_keep_full_text(spark):
    from stackoverflowner_spark.operators.triples import parse_ntriples
    txt = ["<http://other.example/s> <http://other.example/p> "
           '"plain literal" .']
    df = spark.createDataFrame([(t,) for t in txt], "value string")
    got = parse_ntriples(df).collect()[0]
    assert (got.subj, got.pred, got.obj) == (
        "http://other.example/s", "http://other.example/p",
        "plain literal")


def test_parse_literal_ending_in_dot_space(spark):
    # the " ." terminator must bind to the END of line, not inside the
    # literal
    rows = [("s", "instance_of", "trailing .", "u"),
            ("s2", "instance_of", "mid . dle", "u")]
    assert _roundtrip(spark, rows) == {(s, p, o) for s, p, o, _ in rows}


def test_parse_is_columnar_no_python_udf(spark):
    from stackoverflowner_spark.operators.triples import parse_ntriples
    df = spark.createDataFrame([("x",)], "value string")
    plan = parse_ntriples(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kgq_cli_ntriples_input_and_quantifier(spark, tmp_path, capsys):
    """--ntriples reads an exported KG as text; the {lo,hi} quantifier
    works through the CLI pattern mini-syntax."""
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from tools.kgq import main

    df = spark.createDataFrame(
        [("a", "subclass_of", "b", "u"), ("b", "subclass_of", "c", "u"),
         ("c", "subclass_of", "d", "u")],
        "subj string, pred string, obj string, url string")
    nt = str(tmp_path / "kg_nt")
    ntriples_lines(df).write.text(nt)
    assert main([nt, "a subclass_of{2,3} ?y", "--ntriples",
                 "--master", "local[2]"]) == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["y"] for r in out) == ["c", "d"]
