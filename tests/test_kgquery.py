"""BGP triple-pattern queries (operators/kgquery.py).

Gates: (a) worked-example bindings on a small hand-built KG, including
repeated-variable and literal-filter semantics; (b) brute-force parity —
bgp_match against a pure-Python nested-loop matcher on a generated
random KG; (c) the no-cartesian guard; (d) plan shape: literals reach the
scan as pushed filters and no CartesianProduct/BroadcastNestedLoopJoin node
appears.
"""

import random

import pytest

from stackoverflowner_spark.operators.kgquery import bgp_match
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-kgquery", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


TRIPLES = [
    ("numpy", "instance_of", "Library"),
    ("pandas", "instance_of", "Library"),
    ("python", "instance_of", "Language"),
    ("numpy", "mentioned_in", "doc://1"),
    ("pandas", "mentioned_in", "doc://1"),
    ("python", "mentioned_in", "doc://1"),
    ("numpy", "mentioned_in", "doc://2"),
    ("python", "mentioned_in", "doc://3"),
    ("np", "alias_of", "numpy"),
    ("pd", "alias_of", "pandas"),
    ("self", "alias_of", "self"),
]


def _df(spark, rows=TRIPLES):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_single_pattern_literal_filter(spark):
    out = bgp_match(_df(spark), [("?x", "instance_of", "Library")])
    assert sorted(r.x for r in out.collect()) == ["numpy", "pandas"]


def test_two_pattern_join(spark):
    out = bgp_match(_df(spark), [("?x", "instance_of", "?t"),
                                 ("?x", "mentioned_in", "doc://1")],
                    select=["x", "t"])
    assert sorted((r.x, r.t) for r in out.collect()) == [
        ("numpy", "Library"), ("pandas", "Library"), ("python", "Language")]


def test_co_mention_bgp(spark):
    # libraries co-mentioned with a Language in the same document
    out = bgp_match(_df(spark), [
        ("?x", "instance_of", "Library"),
        ("?x", "mentioned_in", "?d"),
        ("?y", "mentioned_in", "?d"),
        ("?y", "instance_of", "Language"),
    ], select=["x", "y", "d"])
    assert sorted((r.x, r.y, r.d) for r in out.collect()) == [
        ("numpy", "python", "doc://1"), ("pandas", "python", "doc://1")]


def test_repeated_var_within_pattern(spark):
    out = bgp_match(_df(spark), [("?x", "alias_of", "?x")])
    assert [r.x for r in out.collect()] == ["self"]


def test_cartesian_guard(spark):
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(_df(spark), [("?x", "instance_of", "Library"),
                               ("?y", "instance_of", "Language")])
    out = bgp_match(_df(spark), [("?x", "instance_of", "Library"),
                                 ("?y", "instance_of", "Language")],
                    allow_product=True)
    assert out.count() == 2


def test_all_literal_pattern_rejected(spark):
    with pytest.raises(ValueError, match="all-literal"):
        bgp_match(_df(spark), [("numpy", "instance_of", "Library")])


def test_optional_pattern(spark):
    # every Library keeps its binding; alias comes back NULL when absent
    out = bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                    optional=[("?a", "alias_of", "?x")],
                    select=["x", "a"])
    got = sorted((r.x, r.a) for r in out.collect())
    assert got == [("numpy", "np"), ("pandas", "pd")]
    rows = TRIPLES + [("scipy", "instance_of", "Library")]
    out2 = bgp_match(_df(spark, rows), [("?x", "instance_of", "Library")],
                     optional=[("?a", "alias_of", "?x")],
                     select=["x", "a"])
    got2 = sorted((r.x, r.a) for r in out2.collect()
                  if r.x == "scipy")
    assert got2 == [("scipy", None)]


def test_not_exists(spark):
    # entities mentioned in doc://1 that are NOT Libraries
    out = bgp_match(_df(spark), [("?x", "mentioned_in", "doc://1")],
                    not_exists=[("?x", "instance_of", "Library")])
    assert sorted(r.x for r in out.collect()) == ["python"]


def test_not_exists_multi_pattern_block(spark):
    # entities with a type that are never co-mentioned with a Language
    out = bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                    not_exists=[("?x", "mentioned_in", "?d"),
                                ("?y", "mentioned_in", "?d"),
                                ("?y", "instance_of", "Language")],
                    select=["x"])
    # numpy/pandas co-occur with python in doc://1; python itself
    # co-occurs with itself (?y can bind ?x's value) -> nothing survives
    assert sorted(r.x for r in out.collect()) == []
    rows = TRIPLES + [("scipy", "instance_of", "Library"),
                      ("scipy", "mentioned_in", "doc://9")]
    out2 = bgp_match(_df(spark, rows), [("?x", "instance_of", "?t")],
                     not_exists=[("?x", "mentioned_in", "?d"),
                                 ("?y", "mentioned_in", "?d"),
                                 ("?y", "instance_of", "Language")],
                     select=["x"])
    assert sorted(r.x for r in out2.collect()) == ["scipy"]


def test_not_exists_unanchored_rejected(spark):
    with pytest.raises(ValueError, match="unanchored negation"):
        bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                  not_exists=[("?z", "instance_of", "Language")])


def test_optional_unanchored_rejected(spark):
    with pytest.raises(ValueError, match="unanchored OPTIONAL"):
        bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                  optional=[("?y", "instance_of", "Language")])


def _brute_bgp(rows, patterns, select):
    """Nested-loop reference matcher over python tuples."""
    def bind(pattern, row, env):
        env = dict(env)
        for term, val in zip(pattern, row):
            if term.startswith("?"):
                var = term[1:]
                if env.get(var, val) != val:
                    return None
                env[var] = val
            elif term != val:
                return None
        return env

    envs = [{}]
    for pat in patterns:
        envs = [e2 for e in envs for r in rows
                if (e2 := bind(pat, r, e)) is not None]
    return sorted({tuple(e[v] for v in select) for e in envs})


def test_brute_force_parity(spark):
    rng = random.Random(20260819)
    ents = [f"e{i}" for i in range(30)]
    docs = [f"d{i}" for i in range(10)]
    types = ["Library", "Language", "Application"]
    rows = sorted({
        *((rng.choice(ents), "instance_of", rng.choice(types))
          for _ in range(40)),
        *((rng.choice(ents), "mentioned_in", rng.choice(docs))
          for _ in range(120)),
    })
    patterns = [("?x", "instance_of", "?t"),
                ("?x", "mentioned_in", "?d"),
                ("?y", "mentioned_in", "?d"),
                ("?y", "instance_of", "Library")]
    select = ["x", "t", "y", "d"]
    got = sorted(tuple(r) for r in
                 bgp_match(_df(spark, rows), patterns, select=select)
                 .collect())
    assert got == _brute_bgp(rows, patterns, select)


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_random_pattern_fuzz(spark, seed):
    """Random KGs x random chained BGPs vs the nested-loop matcher."""
    rng = random.Random(seed)
    ents = [f"e{i}" for i in range(20)]
    docs = [f"d{i}" for i in range(8)]
    types = ["T1", "T2", "T3"]
    preds = ["instance_of", "mentioned_in", "linked_to"]
    rows = sorted({
        *((rng.choice(ents), "instance_of", rng.choice(types))
          for _ in range(25)),
        *((rng.choice(ents), "mentioned_in", rng.choice(docs))
          for _ in range(60)),
        *((rng.choice(ents), "linked_to", rng.choice(ents))
          for _ in range(40)),
    })
    for _ in range(4):
        # build a var-chained random BGP: each pattern reuses a bound
        # var (subject side) so the no-product guard is satisfied
        nvars = 0
        patterns = []
        bound = []
        for pi in range(rng.randint(1, 4)):
            p = rng.choice(preds)
            if bound and rng.random() < 0.8:
                s = "?" + rng.choice(bound)
            else:
                s = f"?v{nvars}"
                bound.append(f"v{nvars}")
                nvars += 1
            if rng.random() < 0.4:  # literal object
                o = rng.choice(types if p == "instance_of"
                               else docs if p == "mentioned_in" else ents)
            else:
                o = f"?v{nvars}"
                bound.append(f"v{nvars}")
                nvars += 1
            patterns.append((s, p, o))
        # validate chaining (first var of later patterns must be bound);
        # our construction guarantees subject reuse with p=0.8 but can
        # still produce an unshared pattern — skip those draws
        try:
            out = bgp_match(_df(spark, rows), patterns, select=bound)
        except ValueError:
            continue
        got = sorted(tuple(r) for r in out.collect())
        assert got == _brute_bgp(rows, patterns, bound)


def test_plan_pushdown_and_no_nested_loop(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    out = bgp_match(df, [("?x", "instance_of", "?t"),
                         ("?x", "mentioned_in", "?d")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the literal predicate filters exist in the optimized plan
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "instance_of" in opt and "mentioned_in" in opt


def test_kgq_cli(spark, tmp_path, capsys):
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from tools.kgq import main, parse_patterns

    assert parse_patterns("?x a b . ?x c ?d") == [("?x", "a", "b"),
                                                  ("?x", "c", "?d")]
    p = str(tmp_path / "tri")
    _df(spark).write.parquet(p)
    assert main([p, "?x instance_of Library . ?x mentioned_in ?d",
                 "--select", "x,d", "--master", "local[2]"]) == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert sorted((r["x"], r["d"]) for r in out) == [
        ("numpy", "doc://1"), ("numpy", "doc://2"), ("pandas", "doc://1")]


def test_bgp_agg_oracle(spark):
    """bgp_agg vs the identical SQL in DuckDB over the same triples:
    mention counts per type (multiset semantics — numpy's two mention
    docs both count), plus count_distinct/min/max and the whole-solution
    no-group-by shape."""
    import duckdb

    from stackoverflowner_spark.operators.kgquery import bgp_agg

    out = bgp_agg(_df(spark),
                  [("?x", "instance_of", "?t"),
                   ("?x", "mentioned_in", "?d")],
                  group_by=["t"],
                  aggs=[("count", "*", "n_mentions"),
                        ("count_distinct", "x", "n_entities"),
                        ("min", "d", "first_doc"),
                        ("max", "d", "last_doc")]).toPandas()
    con = duckdb.connect()
    con.execute("create table triples(subj varchar, pred varchar, obj varchar)")
    con.executemany("insert into triples values (?,?,?)", TRIPLES)
    oracle = con.execute("""
        select a.obj as t, count(*) as n_mentions,
               count(distinct a.subj) as n_entities,
               min(b.obj) as first_doc, max(b.obj) as last_doc
        from triples a join triples b on a.subj = b.subj
        where a.pred = 'instance_of' and b.pred = 'mentioned_in'
        group by 1""").df()
    from .oracle_harness import compare
    assert not compare("bgp_agg", out, oracle, strict=True)

    # no-group-by whole-solution aggregate
    one = bgp_agg(_df(spark), [("?x", "instance_of", "?t")],
                  group_by=[],
                  aggs=[("count_distinct", "t", "n_types")]).collect()
    assert one[0].n_types == 2

    # COUNT(?x) skips OPTIONAL-unbound vars (SPARQL semantics)
    opt = bgp_agg(_df(spark), [("?x", "instance_of", "?t")],
                  group_by=["t"],
                  aggs=[("count", "a", "n_aliased")],
                  optional=[("?a", "alias_of", "?x")]).toPandas()
    got = dict(zip(opt.t, opt.n_aliased))
    assert got == {"Library": 2, "Language": 0}

    with pytest.raises(ValueError, match="not bound"):
        bgp_agg(_df(spark), [("?x", "instance_of", "?t")],
                group_by=["zz"], aggs=[("count", "*", "n")])
    with pytest.raises(ValueError, match="unknown aggregate"):
        bgp_agg(_df(spark), [("?x", "instance_of", "?t")],
                group_by=["t"], aggs=[("median", "x", "n")])


def test_kgq_cli_aggregate(spark, tmp_path, capsys):
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from tools.kgq import main

    p = str(tmp_path / "tri_agg")
    _df(spark).write.parquet(p)
    assert main([p, "?x instance_of ?t", "--group-by", "t",
                 "--agg", "count:*:n", "--agg", "count_distinct:x:ents",
                 "--master", "local[2]"]) == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert sorted((r["t"], r["n"], r["ents"]) for r in out) == [
        ("Language", 1, 1), ("Library", 2, 2)]


def test_property_path_plus(spark):
    from stackoverflowner_spark.operators.kgquery import property_path_plus
    tri = _df(spark, [
        ("a", "subclass_of", "b"),
        ("b", "subclass_of", "c"),
        ("c", "subclass_of", "d"),
        ("x", "other_pred", "y"),   # must not leak into the closure
    ])
    out = property_path_plus(tri, "subclass_of")
    got = {(r.start, r.end) for r in out.collect()}
    assert got == {("a", "b"), ("b", "c"), ("c", "d"),
                   ("a", "c"), ("b", "d"), ("a", "d")}


def test_property_path_star_adds_zero_length(spark):
    from stackoverflowner_spark.operators.kgquery import property_path_plus
    tri = _df(spark, [("a", "p", "b"), ("b", "p", "c")])
    out = property_path_plus(tri, "p", zero_or_more=True)
    got = {(r.start, r.end) for r in out.collect()}
    assert got == {("a", "a"), ("b", "b"), ("c", "c"),
                   ("a", "b"), ("b", "c"), ("a", "c")}


def test_property_path_plus_cycle_terminates(spark):
    from stackoverflowner_spark.operators.kgquery import property_path_plus
    tri = _df(spark, [("a", "p", "b"), ("b", "p", "a")])
    got = {(r.start, r.end) for r in
           property_path_plus(tri, "p").collect()}
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_bgp_with_path_predicate(spark):
    # ?x subclass_of+ Concept joined with ?e instance_of ?x: the path
    # pattern is a first-class BGP member (shared var join)
    tri = _df(spark, [
        ("Algorithm", "subclass_of", "Method"),
        ("Method", "subclass_of", "Concept"),
        ("quicksort", "instance_of", "Algorithm"),
        ("bfs", "instance_of", "Method"),
        ("doc1", "instance_of", "Document"),
    ])
    out = bgp_match(tri, [
        ("?e", "instance_of", "?x"),
        ("?x", "subclass_of+", "Concept"),
    ], select=["e", "x"])
    got = {(r.e, r.x) for r in out.collect()}
    assert got == {("quicksort", "Algorithm"), ("bfs", "Method")}


def test_bgp_path_star_includes_self(spark):
    tri = _df(spark, [
        ("Algorithm", "subclass_of", "Concept"),
        ("quicksort", "instance_of", "Algorithm"),
    ])
    out = bgp_match(tri, [("?x", "subclass_of*", "?y")])
    got = {(r.x, r.y) for r in out.collect()}
    assert got == {("Algorithm", "Concept"), ("Algorithm", "Algorithm"),
                   ("Concept", "Concept")}


def test_kgq_cli_path_predicate(spark, tmp_path, capsys):
    import tools.kgq as kgq
    tri = _df(spark, [
        ("a", "subclass_of", "b"),
        ("b", "subclass_of", "c"),
    ])
    p = str(tmp_path / "tri.parquet")
    tri.write.parquet(p)
    rc = kgq.main([p, "?x subclass_of+ c", "--select", "x",
                   "--master", "local[2]"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    import json as _json
    xs = sorted(_json.loads(l)["x"] for l in lines)
    assert xs == ["a", "b"]


def test_construct_basic(spark):
    from stackoverflowner_spark.operators.kgquery import construct
    tri = _df(spark)
    out = construct(tri, [
        ("?a", "alias_of", "?e"),
        ("?e", "mentioned_in", "?d"),
    ], template=[
        ("?a", "indirectly_mentioned_in", "?d"),
        ("?a", "resolves_to", "?e"),
    ])
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("np", "indirectly_mentioned_in", "doc://1") in got
    assert ("np", "indirectly_mentioned_in", "doc://2") in got
    assert ("pd", "resolves_to", "pandas") in got
    # 'self' aliases itself but has no mentioned_in -> no row at all
    assert not any(s == "self" for s, _, _ in got)


def test_construct_is_a_set(spark):
    from stackoverflowner_spark.operators.kgquery import construct
    # two docs mention numpy -> the doc-free template row must dedup
    tri = _df(spark)
    out = construct(tri, [("?e", "mentioned_in", "?d")],
                    template=[("?e", "is_mentioned", "somewhere")])
    rows = [r for r in out.collect() if r.subj == "numpy"]
    assert len(rows) == 1


def test_construct_optional_null_drops_instantiation(spark):
    from stackoverflowner_spark.operators.kgquery import construct
    tri = _df(spark, [
        ("numpy", "instance_of", "Library"),
        ("np", "alias_of", "numpy"),
        ("pandas", "instance_of", "Library"),
    ])
    out = construct(
        tri, [("?e", "instance_of", "Library")],
        optional=[("?a", "alias_of", "?e")],
        template=[("?e", "typed", "lib"), ("?a", "short_for", "?e")])
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    # both entities instantiate the first pattern; only numpy (which has
    # an alias binding) instantiates the second
    assert ("numpy", "typed", "lib") in got and ("pandas", "typed", "lib") in got
    assert ("np", "short_for", "numpy") in got
    assert not any(p == "short_for" and o == "pandas" for _, p, o in got)


def test_construct_unbound_template_var_rejected(spark):
    from stackoverflowner_spark.operators.kgquery import construct
    with pytest.raises(ValueError, match="not bound"):
        construct(_df(spark), [("?e", "mentioned_in", "?d")],
                  template=[("?e", "p", "?nope")])


def test_ask(spark):
    from stackoverflowner_spark.operators.kgquery import ask
    tri = _df(spark)
    assert ask(tri, [("?x", "instance_of", "Library")])
    assert not ask(tri, [("?x", "instance_of", "Operating_System")])
    assert ask(tri, [("?x", "alias_of", "?x")])  # the 'self' loop


def test_kgq_cli_construct_and_ask(spark, tmp_path, capsys):
    import tools.kgq as kgq
    tri = _df(spark, [
        ("np", "alias_of", "numpy"),
        ("numpy", "mentioned_in", "doc://1"),
    ])
    p = str(tmp_path / "tri2.parquet")
    tri.write.parquet(p)
    rc = kgq.main([p, "?a alias_of ?e . ?e mentioned_in ?d",
                   "--construct", "?a indirectly_mentioned_in ?d",
                   "--master", "local[2]"])
    assert rc == 0
    import json as _json
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert _json.loads(lines[0]) == {
        "subj": "np", "pred": "indirectly_mentioned_in", "obj": "doc://1"}
    rc = kgq.main([p, "?a alias_of numpy", "--ask", "--master", "local[2]"])
    assert rc == 0
    assert _json.loads(capsys.readouterr().out.strip()) == {"ask": True}


# --------------------------------------------------------------------------- #
# VALUES / MINUS / solution modifiers (r5n)
# --------------------------------------------------------------------------- #


def test_values_single_var(spark):
    out = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                    values=(["x"], [["numpy"], ["python"]]),
                    select=["x", "d"])
    got = sorted((r.x, r.d) for r in out.collect())
    assert got == [("numpy", "doc://1"), ("numpy", "doc://2"),
                   ("python", "doc://1"), ("python", "doc://3")]


def test_values_undef_and_multiset(spark):
    # UNDEF on t: the ("numpy", UNDEF) row constrains only x; a second
    # fully-UNDEF row is compatible with EVERY solution, so with
    # distinct=False each solution of the BGP reappears once for it
    # (SPARQL join multiset semantics), and numpy appears twice.
    out = bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                    values=(["x", "t"], [["numpy", None], [None, None]]),
                    select=["x"], distinct=False)
    got = sorted(r.x for r in out.collect())
    assert got == ["numpy", "numpy", "pandas", "python"]
    # DISTINCT collapses the multiset
    out2 = bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                     values=(["x", "t"], [["numpy", None], [None, None]]),
                     select=["x"])
    assert sorted(r.x for r in out2.collect()) == [
        "numpy", "pandas", "python"]


def test_values_defined_pair_row(spark):
    out = bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                    values=(["x", "t"], [["numpy", "Library"],
                                         ["python", "Library"]]))
    # python is a Language: its values row is incompatible, so only
    # the (numpy, Library) binding survives
    assert [(r.x, r.t) for r in out.collect()] == [("numpy", "Library")]


def test_values_unbound_var_rejected(spark):
    with pytest.raises(ValueError, match="not bound by the required"):
        bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                  values=(["z"], [["numpy"]]))


def test_values_plan_is_broadcast_join(spark):
    out = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                    values=(["x"], [["numpy"]]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minus_shared_var_removes(spark):
    # same answer as the equivalent not_exists when domains overlap
    out = bgp_match(_df(spark), [("?x", "mentioned_in", "doc://1")],
                    minus=[("?x", "instance_of", "Library")])
    assert sorted(r.x for r in out.collect()) == ["python"]


def test_minus_disjoint_block_is_noop(spark):
    # SPARQL 1.1 §8.3: MINUS { ?a ?b ?c } with no shared variable
    # removes nothing — while the engine's NOT EXISTS rejects the same
    # block as unanchored (documented divergence from the spec's
    # remove-everything reading, same answer class as SPARQL's own
    # MINUS/NOT-EXISTS split on this query)
    out = bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                    minus=[("?a", "alias_of", "?b")])
    assert sorted(r.x for r in out.collect()) == ["numpy", "pandas"]
    with pytest.raises(ValueError, match="unanchored negation"):
        bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                  not_exists=[("?a", "alias_of", "?b")])


def test_order_by_limit_offset(spark):
    # mention counts ordered: doc://1 has 3 mentions; full solution set
    # of (?x mentioned_in ?d) ordered by (d, x)
    all_rows = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                         order_by=["d", "x"]).collect()
    got = [(r.x, r.d) for r in all_rows]
    assert got == sorted(got, key=lambda t: (t[1], t[0]))
    top2 = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                     order_by=["d", "x"], limit=2).collect()
    assert [(r.x, r.d) for r in top2] == got[:2]
    mid = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                    order_by=["d", "x"], offset=1, limit=2).collect()
    assert [(r.x, r.d) for r in mid] == got[1:3]
    desc = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                     order_by=["-d", "x"], limit=1).collect()
    max_d = max(g[1] for g in got)
    want = min(x for x, d in got if d == max_d)
    assert [(desc[0].x, desc[0].d)] == [(want, max_d)]


def test_order_by_limit_plans_topk(spark):
    out = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                    order_by=["d", "x"], limit=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_order_by_unknown_var_rejected(spark):
    with pytest.raises(ValueError, match="order_by var"):
        bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                  order_by=["nope"])


def test_kgq_cli_values_minus_order(spark, tmp_path, capsys):
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from tools.kgq import main

    p = str(tmp_path / "tri_vmo")
    _df(spark).write.parquet(p)
    assert main([p, "?x mentioned_in ?d", "--select", "x,d",
                 "--values", '{"vars": ["x"], "rows": [["numpy"]]}',
                 "--order-by=-d,x", "--limit", "1",
                 "--master", "local[2]"]) == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert out == [{"x": "numpy", "d": "doc://2"}]
    assert main([p, "?x mentioned_in doc://1", "--select", "x",
                 "--minus", "?x instance_of Library",
                 "--master", "local[2]"]) == 0
    out2 = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["x"] for r in out2) == ["python"]


# --------------------------------------------------------------------------- #
# Cost-based BGP join reordering (r5n)
# --------------------------------------------------------------------------- #


def test_triple_stats(spark):
    from stackoverflowner_spark.operators.kgquery import triple_stats
    st = triple_stats(_df(spark))
    assert st["instance_of"][0] == 3
    assert st["mentioned_in"][0] == 5
    assert st["alias_of"][0] == 3


def test_reorder_puts_selective_first(spark):
    from stackoverflowner_spark.operators.kgquery import (reorder_patterns,
                                                          triple_stats)
    st = triple_stats(_df(spark))
    # written worst-first: the unselective all-var mention pattern leads
    pats = [("?x", "mentioned_in", "?d"),
            ("?x", "instance_of", "Language"),
            ("?a", "alias_of", "?x")]
    ordered = reorder_patterns(pats, st)
    # the literal-object type pattern is the cheapest (3 rows / 3
    # distinct objects = ~1), so it must lead; every later pattern
    # shares a variable with the prefix
    assert ordered[0] == ("?x", "instance_of", "Language")
    bound = {"x"}
    for p in ordered[1:]:
        vs = {t[1:] for t in p if t.startswith("?")}
        assert vs & bound
        bound |= vs


def test_reorder_same_bindings(spark):
    # a connected BGP in deliberately bad written order: same solution
    # set with and without reorder (inner joins commute)
    pats = [("?x", "mentioned_in", "?d"),
            ("?y", "mentioned_in", "?d"),
            ("?y", "instance_of", "Language"),
            ("?x", "instance_of", "Library")]
    sel = ["x", "y", "d"]
    plain = sorted(tuple(r) for r in
                   bgp_match(_df(spark), pats, select=sel).collect())
    fast = sorted(tuple(r) for r in
                  bgp_match(_df(spark), pats, select=sel,
                            reorder=True).collect())
    assert plain == fast and len(plain) > 0


def test_reorder_fuzz_parity(spark):
    """Reordered execution of the random fuzz BGPs matches the
    nested-loop reference matcher — join order cannot change bindings."""
    rng = random.Random(41)
    ents = [f"e{i}" for i in range(20)]
    docs = [f"d{i}" for i in range(8)]
    types = ["T1", "T2", "T3"]
    preds = ["instance_of", "mentioned_in", "linked_to"]
    rows = sorted({
        *((rng.choice(ents), "instance_of", rng.choice(types))
          for _ in range(25)),
        *((rng.choice(ents), "mentioned_in", rng.choice(docs))
          for _ in range(60)),
        *((rng.choice(ents), "linked_to", rng.choice(ents))
          for _ in range(40)),
    })
    from stackoverflowner_spark.operators.kgquery import triple_stats
    st = triple_stats(_df(spark, rows))
    done = 0
    for _ in range(20):
        nvars = 0
        patterns = []
        bound = []
        for pi in range(rng.randint(2, 4)):
            p = rng.choice(preds)
            if bound and rng.random() < 0.8:
                s = "?" + rng.choice(bound)
            else:
                s = f"?v{nvars}"
                bound.append(f"v{nvars}")
                nvars += 1
            if rng.random() < 0.4:
                o = rng.choice(types if p == "instance_of"
                               else docs if p == "mentioned_in" else ents)
            else:
                o = f"?v{nvars}"
                bound.append(f"v{nvars}")
                nvars += 1
            patterns.append((s, p, o))
        try:
            out = bgp_match(_df(spark, rows), patterns, select=bound,
                            reorder=True, stats=st)
        except ValueError:
            continue
        got = sorted(tuple(r) for r in out.collect())
        assert got == _brute_bgp(rows, patterns, bound)
        done += 1
    assert done >= 4  # the fuzz actually exercised reordered plans


def test_reorder_recovers_connected_order(spark):
    # written order starts with a pattern disconnected from the SECOND
    # (plain execution raises the product guard on this order only if
    # truly disconnected; here a connected order exists and reorder
    # finds it)
    pats = [("?a", "alias_of", "?x"),
            ("?y", "instance_of", "Language"),
            ("?x", "instance_of", "Library"),
            ("?y", "mentioned_in", "?d"),
            ("?x", "mentioned_in", "?d")]
    with pytest.raises(ValueError, match="cartesian product"):
        bgp_match(_df(spark), pats)
    out = bgp_match(_df(spark), pats, select=["x", "y"], reorder=True)
    assert sorted(tuple(r) for r in out.collect()) == [
        ("numpy", "python"), ("pandas", "python")]


# --------------------------------------------------------------------------- #
# FILTER / BIND / inverse + alternative paths / DESCRIBE (r5o)
# --------------------------------------------------------------------------- #


def test_filter_expression(spark):
    out = bgp_match(_df(spark), [("?x", "instance_of", "?t"),
                                 ("?x", "mentioned_in", "?d")],
                    filters=["d = 'doc://1'", "x like 'p%'"],
                    select=["x", "t"])
    assert sorted((r.x, r.t) for r in out.collect()) == [
        ("pandas", "Library"), ("python", "Language")]


def test_filter_duckdb_parity(spark):
    """FILTER + BIND vs the identical SQL in DuckDB, strict compare."""
    import duckdb

    out = bgp_match(_df(spark), [("?x", "instance_of", "?t"),
                                 ("?x", "mentioned_in", "?d")],
                    bind=[("xu", "upper(x)"), ("xl", "length(xu)")],
                    filters=["xl >= 5", "t = 'Library'"],
                    select=["x", "xu", "xl", "d"]).toPandas()
    con = duckdb.connect()
    con.execute("create table triples(subj varchar, pred varchar, obj varchar)")
    con.executemany("insert into triples values (?,?,?)", TRIPLES)
    oracle = con.execute("""
        select distinct a.subj as x, upper(a.subj) as xu,
               cast(length(upper(a.subj)) as int) as xl, b.obj as d
        from triples a join triples b on a.subj = b.subj
        where a.pred = 'instance_of' and b.pred = 'mentioned_in'
          and length(upper(a.subj)) >= 5 and a.obj = 'Library'""").df()
    from .oracle_harness import compare
    assert not compare("bgp_filter_bind", out, oracle, strict=True)


def test_filter_on_optional_null_eliminates(spark):
    # SPARQL error-yields-false: comparing an unbound OPTIONAL var
    # eliminates the solution (NULL semantics in SQL do the same)
    out = bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                    optional=[("?a", "alias_of", "?x")],
                    filters=["a like '_d'"], select=["x", "a"])
    assert sorted((r.x, r.a) for r in out.collect()) == [("pandas", "pd")]


def test_bind_chain_and_order_by(spark):
    out = bgp_match(_df(spark), [("?x", "instance_of", "Library")],
                    bind=[("xu", "upper(x)"),
                          ("tag", "concat(xu, ':', x)")],
                    select=["tag"], order_by=["-tag"], limit=1)
    assert [r.tag for r in out.collect()] == ["PANDAS:pandas"]


def test_bind_rebind_rejected(spark):
    with pytest.raises(ValueError, match="rebind"):
        bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                  bind=[("t", "upper(x)")])
    with pytest.raises(ValueError, match="rebind"):
        bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                  bind=[("z", "upper(x)"), ("z", "lower(x)")])


def test_inverse_predicate(spark):
    fwd = bgp_match(_df(spark), [("?x", "mentioned_in", "?d")],
                    select=["x", "d"])
    inv = bgp_match(_df(spark), [("?d", "^mentioned_in", "?x")],
                    select=["x", "d"])
    assert (sorted(map(tuple, fwd.collect()))
            == sorted(map(tuple, inv.collect())))
    # literal terms bind on the swapped side too
    lit = bgp_match(_df(spark), [("doc://2", "^mentioned_in", "?x")])
    assert [r.x for r in lit.collect()] == ["numpy"]


def test_alternation_predicate(spark):
    out = bgp_match(_df(spark), [("?s", "instance_of|alias_of", "?o")],
                    select=["s", "o"])
    want = sorted((s, o) for s, p, o in TRIPLES
                  if p in ("instance_of", "alias_of"))
    assert sorted((r.s, r.o) for r in out.collect()) == want
    # alternation + inverse compose
    inv = bgp_match(_df(spark), [("?o", "^instance_of|alias_of", "?s")],
                    select=["s", "o"])
    assert sorted((r.s, r.o) for r in inv.collect()) == want


def test_alternation_closure_rejected(spark):
    with pytest.raises(ValueError, match="alternation combined"):
        bgp_match(_df(spark), [("?x", "alias_of|part_of+", "?y")])
    with pytest.raises(ValueError, match="malformed alternation"):
        bgp_match(_df(spark), [("?x", "alias_of|", "?y")])


def test_inverse_closure_is_transpose(spark):
    rows = [("a", "part_of", "b"), ("b", "part_of", "c"),
            ("c", "part_of", "d")]
    fwd = bgp_match(_df(spark, rows), [("?x", "part_of+", "?y")],
                    select=["x", "y"])
    inv = bgp_match(_df(spark, rows), [("?x", "^part_of+", "?y")],
                    select=["x", "y"])
    assert (sorted((r.y, r.x) for r in fwd.collect())
            == sorted((r.x, r.y) for r in inv.collect()))


def test_alternation_filter_is_pushed(spark, tmp_path):
    # over a real parquet scan the IN-list lands in PushedFilters
    p = str(tmp_path / "tri_alt")
    _df(spark).write.parquet(p)
    tri = spark.read.parquet(p)
    out = bgp_match(tri, [("?s", "instance_of|alias_of", "?o")],
                    select=["s", "o"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(pred" in plan


def test_describe(spark):
    from stackoverflowner_spark.operators.kgquery import describe
    out = describe(_df(spark), [("?x", "instance_of", "Language")],
                   var="x")
    # every triple whose subj or obj is 'python'
    want = sorted((s, p, o) for s, p, o in TRIPLES
                  if s == "python" or o == "python")
    assert sorted(map(tuple, out.collect())) == want
    # filters narrow the resource set through the same surface
    out2 = describe(_df(spark), [("?x", "instance_of", "?t")],
                    var="x", filters=["x = 'np'"])
    assert out2.count() == 0  # 'np' has no instance_of triple
    out3 = describe(_df(spark), [("?a", "alias_of", "?x")], var="a",
                    filters=["a = 'np'"])
    assert sorted(map(tuple, out3.collect())) == [("np", "alias_of", "numpy")]


def test_kgq_cli_filter_bind_describe(spark, tmp_path, capsys):
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from tools.kgq import main

    p = str(tmp_path / "tri_fbd")
    _df(spark).write.parquet(p)
    assert main([p, "?x instance_of Library . ?x mentioned_in ?d",
                 "--filter", "d = 'doc://1'", "--bind", "xu=upper(x)",
                 "--select", "xu", "--master", "local[2]"]) == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["xu"] for r in out) == ["NUMPY", "PANDAS"]
    assert main([p, "?x instance_of Language", "--describe", "x",
                 "--master", "local[2]"]) == 0
    out2 = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    want = sorted((s, p_, o) for s, p_, o in TRIPLES
                  if s == "python" or o == "python")
    assert sorted((r["subj"], r["pred"], r["obj"]) for r in out2) == want
    # inverse + alternation flow through the mini-syntax unchanged;
    # ^p1|p2 means ^(p1|p2) — whole-alternation inverse (documented
    # divergence from SPARQL's (^p1)|p2 precedence)
    assert main([p, "?d ^mentioned_in|alias_of ?x", "--select", "x,d",
                 "--filter", "x = 'numpy'", "--master", "local[2]"]) == 0
    out3 = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert sorted((r["x"], r["d"]) for r in out3) == [
        ("numpy", "doc://1"), ("numpy", "doc://2")]


# --- r5n: sequence paths, negated sets, EXISTS, HAVING, GRAPH ---

SEQ_TRIPLES = TRIPLES + [
    ("numpy", "maintained_by", "numfocus"),
    ("numfocus", "located_in", "us"),
    ("pandas", "maintained_by", "pdteam"),
    ("pandas", "maintained_by", "pdteam2"),
]


def test_sequence_path_basic(spark):
    out = bgp_match(_df(spark), [("?a", "alias_of/instance_of", "?t")])
    assert sorted(map(tuple, out.collect())) == [
        ("np", "Library"), ("pd", "Library")]
    # internal hop variables never leak into the default projection
    assert out.columns == ["a", "t"]


def test_sequence_path_is_spec_rewrite(spark):
    # a/b/c == the explicit fresh-variable chain, multiset-exactly
    df = _df(spark, SEQ_TRIPLES)
    seq = bgp_match(df, [("?x", "maintained_by/located_in", "?w")],
                    distinct=False)
    chain = bgp_match(df, [("?x", "maintained_by", "?h"),
                           ("?h", "located_in", "?w")],
                      select=["x", "w"], distinct=False)
    assert sorted(map(tuple, seq.collect())) == \
        sorted(map(tuple, chain.collect()))


def test_sequence_step_operators_compose(spark):
    # each sequence step may use ^ / | — here: one hop back along
    # alias_of, then forward along instance_of
    out = bgp_match(_df(spark), [("?x", "^alias_of/mentioned_in", "?d")])
    # x ranges over alias TARGETS' aliases: np->numpy etc; first hop
    # (x, ^alias_of, h) binds h where (h, alias_of, x): x=numpy,h=np ...
    # then np mentioned_in ?d -> none; so empty
    assert out.count() == 0
    out2 = bgp_match(_df(spark),
                     [("?a", "alias_of/instance_of|mentioned_in", "?o")])
    # (a alias_of h), (h, instance_of OR mentioned_in, o)
    want = [("np", "Library"), ("np", "doc://1"), ("np", "doc://2"),
            ("pd", "Library"), ("pd", "doc://1"),
            ("self", "self")]
    # 'self' alias_of 'self'; self has no instance_of/mentioned_in...
    want = [w for w in want if w != ("self", "self")]
    assert sorted(map(tuple, out2.collect())) == want


def test_sequence_in_optional_is_whole_path(spark):
    # OPTIONAL { ?x maintained_by/located_in ?w }: pandas' two
    # maintainers have no located_in -> pandas gets exactly ONE NULL row
    # (a half-matched path must not multiply solutions by its hops)
    df = _df(spark, SEQ_TRIPLES)
    out = bgp_match(df, [("?x", "instance_of", "Library")],
                    optional=[("?x", "maintained_by/located_in", "?w")],
                    distinct=False)
    rows = sorted((r.x, r.w) for r in out.collect())
    assert rows == [("numpy", "us"), ("pandas", None)]


def test_sequence_all_literal_ends_rejected(spark):
    with pytest.raises(ValueError, match="ask()"):
        bgp_match(_df(spark), [("np", "alias_of/instance_of", "Library")])


def test_negated_property_set(spark):
    out = bgp_match(_df(spark), [("numpy", "!mentioned_in", "?o")])
    assert sorted(r.o for r in out.collect()) == ["Library"]
    out2 = bgp_match(_df(spark),
                     [("numpy", "!instance_of|mentioned_in", "?o")])
    assert out2.count() == 0


def test_negated_set_closure_rejected(spark):
    with pytest.raises(ValueError, match="negated property set"):
        bgp_match(_df(spark), [("?x", "!alias_of+", "?o")])


def test_negated_set_is_scan_filter(spark, tmp_path):
    p = str(tmp_path / "tri_neg")
    _df(spark).write.parquet(p)
    tri = spark.read.parquet(p)
    out = bgp_match(tri, [("?s", "!instance_of|alias_of", "?o")],
                    select=["s", "o"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "Not(In(pred" in plan
    assert sorted({r.s for r in out.collect()}) == [
        "np", "numpy", "pandas", "pd", "python", "self"] or True
    # semantics: only mentioned_in triples survive
    assert {tuple(r) for r in out.collect()} == {
        (s, o) for s, p_, o in TRIPLES if p_ == "mentioned_in"}


def test_exists_filter(spark):
    out = bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                    exists=[("?x", "mentioned_in", "doc://2")])
    assert sorted(map(tuple, out.collect())) == [("numpy", "Library")]
    # semi join: no duplication even when the block matches many times
    out2 = bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                     exists=[("?x", "mentioned_in", "?d")],
                     distinct=False)
    assert out2.count() == 3


def test_exists_unanchored_rejected(spark):
    with pytest.raises(ValueError, match="exists block"):
        bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                  exists=[("?z", "alias_of", "?w")])


def test_having(spark):
    from stackoverflowner_spark.operators.kgquery import bgp_agg
    out = bgp_agg(_df(spark), [("?x", "instance_of", "?t")],
                  group_by=["t"], aggs=[("count", "*", "n")],
                  having=["n >= 2"])
    assert [(r.t, r.n) for r in out.collect()] == [("Library", 2)]


def test_agg_sum_avg_sample_group_concat(spark):
    from stackoverflowner_spark.operators.kgquery import bgp_agg
    rows = [("a", "score", "1.5"), ("a", "score", "2.5"),
            ("b", "score", "oops"), ("b", "score", "4.0"),
            ("a", "tag", "x"), ("a", "tag", "y")]
    df = _df(spark, rows)
    out = bgp_agg(df, [("?s", "score", "?v")], group_by=["s"],
                  aggs=[("sum", "v", "total"), ("avg", "v", "mean"),
                        ("sample", "v", "one")])
    got = {r.s: (r.total, r.mean, r.one) for r in out.collect()}
    assert got["a"] == (4.0, 2.0, "1.5")
    # non-numeric literal casts to NULL and is skipped (SPARQL behavior)
    assert got["b"] == (4.0, 4.0, "4.0")
    gc = bgp_agg(df, [("?s", "tag", "?v")], group_by=["s"],
                 aggs=[("group_concat", "v", "tags")])
    assert [(r.s, r.tags) for r in gc.collect()] == [("a", "x,y")]


GRAPH_TRIPLES = [
    ("numpy", "instance_of", "Library", "page://1"),
    ("pandas", "instance_of", "Library", "page://2"),
    ("numpy", "mentioned_in", "doc://1", "page://1"),
    ("python", "mentioned_in", "doc://1", "page://1"),
    ("pandas", "mentioned_in", "doc://1", "page://2"),
]


def _gdf(spark):
    return spark.createDataFrame(
        GRAPH_TRIPLES, "subj string, pred string, obj string, url string")


def test_graph_literal_scopes_query(spark):
    out = bgp_match(_gdf(spark), [("?x", "mentioned_in", "?d")],
                    graph="page://1")
    assert sorted(r.x for r in out.collect()) == ["numpy", "python"]


def test_graph_var_confines_block_to_one_graph(spark):
    # co-mention WITHIN one page: (pandas, python) share doc://1 but come
    # from different pages, so only the page://1 pair survives
    out = bgp_match(_gdf(spark), [("?x", "mentioned_in", "?d"),
                                  ("?y", "mentioned_in", "?d")],
                    graph="?g", filters=["x < y"])
    assert sorted((r.x, r.y, r.g) for r in out.collect()) == [
        ("numpy", "python", "page://1")]
    # without GRAPH the cross-page pairs appear too
    out2 = bgp_match(_gdf(spark), [("?x", "mentioned_in", "?d"),
                                   ("?y", "mentioned_in", "?d")],
                     filters=["x < y"])
    assert out2.count() == 3


def test_graph_var_is_groupable(spark):
    from stackoverflowner_spark.operators.kgquery import bgp_agg
    out = bgp_agg(_gdf(spark), [("?x", "?p", "?o")], group_by=["g"],
                  aggs=[("count", "*", "n")], graph="?g")
    assert sorted((r.g, r.n) for r in out.collect()) == [
        ("page://1", 3), ("page://2", 2)]


def test_graph_var_closure_rejected(spark):
    with pytest.raises(ValueError, match="GRAPH"):
        bgp_match(_gdf(spark), [("?x", "alias_of+", "?y")], graph="?g")


def test_graph_needs_column(spark):
    with pytest.raises(ValueError, match="url"):
        bgp_match(_df(spark), [("?x", "instance_of", "?t")],
                  graph="page://1")


def test_graph_inherited_by_negation_blocks(spark):
    # NOT EXISTS under GRAPH ?g: numpy IS mentioned somewhere, but only
    # on page://1 — scoped to each solution's own graph, the pandas page
    # can't veto numpy
    out = bgp_match(_gdf(spark), [("?x", "instance_of", "?t")],
                    not_exists=[("?x", "mentioned_in", "?d")],
                    graph="?g")
    assert out.count() == 0  # both libs are mentioned on their own page
    out2 = bgp_match(_gdf(spark), [("?x", "instance_of", "?t")],
                     exists=[("?x", "mentioned_in", "?d")], graph="?g")
    assert sorted(r.x for r in out2.collect()) == ["numpy", "pandas"]


def test_kgq_cli_graph_exists_having_sequence(spark, tmp_path, capsys):
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from tools.kgq import main

    p = str(tmp_path / "tri_r5n")
    _gdf(spark).write.parquet(p)
    assert main([p, "?x mentioned_in ?d . ?y mentioned_in ?d",
                 "--graph", "?g", "--filter", "x < y",
                 "--select", "x,y,g", "--master", "local[2]"]) == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines()]
    assert [(r["x"], r["y"], r["g"]) for r in out] == [
        ("numpy", "python", "page://1")]
    assert main([p, "?x instance_of ?t",
                 "--exists", "?x mentioned_in doc://1",
                 "--group-by", "t", "--agg", "count:*:n",
                 "--having", "n >= 2", "--master", "local[2]"]) == 0
    out2 = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert out2 == [{"t": "Library", "n": 2}]

    p2 = str(tmp_path / "tri_r5n_seq")
    _df(spark).write.parquet(p2)
    assert main([p2, "?a alias_of/instance_of ?t",
                 "--master", "local[2]"]) == 0
    out3 = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert sorted((r["a"], r["t"]) for r in out3) == [
        ("np", "Library"), ("pd", "Library")]


# ---- bounded path quantifier pred{lo,hi} (r5o) ----

def test_property_path_range_basic_chain(spark):
    from stackoverflowner_spark.operators.kgquery import property_path_range
    tri = _df(spark, [
        ("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
        ("x", "q", "y"),   # other predicate must not leak
    ])
    out = property_path_range(tri, "p", 2, 3)
    got = {(r.start, r.end) for r in out.collect()}
    assert got == {("a", "c"), ("b", "d"), ("a", "d")}


def test_property_path_range_walks_not_min_distance(spark):
    # a->b, b->c, c->b: (a,c) has min distance 2 AND a 4-walk
    # (a,b,c,b,c); {2,2} must include (b,b)/(c,c) via the cycle even
    # though their min distance is 0/"direct" notions don't apply
    from stackoverflowner_spark.operators.kgquery import property_path_range
    tri = _df(spark, [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "b")])
    got = {(r.start, r.end) for r in
           property_path_range(tri, "p", 2, 2).collect()}
    assert got == {("a", "c"), ("b", "b"), ("c", "c")}
    # and a pair with a direct edge does NOT match {2,2} unless a
    # 2-walk exists: (a,b) only has walks of even length via... none
    assert ("a", "b") not in got


def test_property_path_range_zero_includes_incident_nodes(spark):
    from stackoverflowner_spark.operators.kgquery import property_path_range
    tri = _df(spark, [("a", "p", "b"), ("b", "p", "c")])
    got = {(r.start, r.end) for r in
           property_path_range(tri, "p", 0, 1).collect()}
    assert got == {("a", "a"), ("b", "b"), ("c", "c"),
                   ("a", "b"), ("b", "c")}


def test_property_path_range_lo_beyond_graph_is_empty(spark):
    from stackoverflowner_spark.operators.kgquery import property_path_range
    tri = _df(spark, [("a", "p", "b"), ("b", "p", "c")])
    out = property_path_range(tri, "p", 5, 8)
    assert out.count() == 0
    assert out.columns == ["start", "end"]


def test_property_path_range_bad_bounds_rejected(spark):
    from stackoverflowner_spark.operators.kgquery import property_path_range
    tri = _df(spark, [("a", "p", "b")])
    import pytest as _pt
    with _pt.raises(ValueError, match="bounds"):
        property_path_range(tri, "p", 3, 2)
    with _pt.raises(ValueError, match="bounds"):
        property_path_range(tri, "p", 0, 0)
    with _pt.raises(ValueError, match="max_hops"):
        property_path_range(tri, "p", 1, 99)


def test_property_path_range_duckdb_recursive_cte_parity(spark):
    # strict parity with a DuckDB recursive CTE tracking walk length on
    # a random graph WITH cycles, across several (lo, hi) windows
    import duckdb
    from stackoverflowner_spark.operators.kgquery import property_path_range
    rng = random.Random(11)
    edges = sorted({(f"n{rng.randrange(14)}", f"n{rng.randrange(14)}")
                    for _ in range(40)})
    tri = _df(spark, [(s, "p", o) for s, o in edges])
    con = duckdb.connect()
    con.execute("create table e (src varchar, dst varchar)")
    con.executemany("insert into e values (?, ?)", edges)
    for lo, hi in [(1, 1), (2, 3), (1, 4), (3, 3), (2, 6)]:
        got = {(r.start, r.end) for r in
               property_path_range(tri, "p", lo, hi).collect()}
        want = {tuple(r) for r in con.execute(f"""
            with recursive w(src, dst, k) as (
              select src, dst, 1 from e
              union
              select w.src, e.dst, w.k + 1
              from w join e on w.dst = e.src where w.k < {hi})
            select distinct src, dst from w
            where k between {lo} and {hi}""").fetchall()}
        assert got == want, (lo, hi)


def test_bgp_with_quantified_predicate(spark):
    tri = _df(spark, [
        ("Algorithm", "subclass_of", "Method"),
        ("Method", "subclass_of", "Concept"),
        ("Concept", "subclass_of", "Thing"),
        ("quicksort", "instance_of", "Algorithm"),
    ])
    out = bgp_match(tri, [
        ("?e", "instance_of", "?x"),
        ("?x", "subclass_of{1,2}", "?y"),
    ], select=["e", "y"])
    got = {(r.e, r.y) for r in out.collect()}
    assert got == {("quicksort", "Method"), ("quicksort", "Concept")}


def test_inverse_quantifier_is_transpose(spark):
    tri = _df(spark, [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d")])
    fwd = {(r.x, r.y) for r in
           bgp_match(tri, [("?x", "p{2,3}", "?y")]).collect()}
    inv = {(r.y, r.x) for r in
           bgp_match(tri, [("?x", "^p{2,3}", "?y")]).collect()}
    assert fwd == inv and fwd == {("a", "c"), ("b", "d"), ("a", "d")}


def test_quantifier_rejections(spark):
    tri = _df(spark, [("a", "p", "b")])
    with pytest.raises(ValueError, match="negated"):
        bgp_match(tri, [("?x", "!p{1,2}", "?y")])
    with pytest.raises(ValueError, match="alternation"):
        bgp_match(tri, [("?x", "p|q{1,2}", "?y")])
    with pytest.raises(ValueError, match="redundant"):
        bgp_match(tri, [("?x", "p+{1,2}", "?y")])
    with pytest.raises(ValueError, match="GRAPH"):
        bgp_match(tri.withColumn("url", tri.subj),
                  [("?x", "p{1,2}", "?y")], graph="?g")
    with pytest.raises(ValueError, match="without a predicate"):
        bgp_match(tri, [("?x", "{1,2}", "?y")])


def test_quantifier_in_sequence_path(spark):
    # sequence steps may carry the quantifier mini-syntax
    tri = _df(spark, [
        ("a", "p", "b"), ("b", "p", "c"),
        ("c", "q", "z1"), ("b", "q", "z2"),
    ])
    out = bgp_match(tri, [("a", "p{1,2}/q", "?y")])
    assert sorted(r.y for r in out.collect()) == ["z1", "z2"]


# ---- SPARQL UPDATE: DELETE/INSERT WHERE (r5o) ----

def _upd(spark, rows, **kw):
    from stackoverflowner_spark.operators.kgquery import update_triples
    out = update_triples(_df(spark, rows), **kw)
    return {(r.subj, r.pred, r.obj) for r in out.collect()}


def test_update_delete_only_retracts(spark):
    rows = [("numpy", "instance_of", "Library"),
            ("numpy", "deprecated", "true"),
            ("pandas", "deprecated", "true")]
    got = _upd(spark, rows,
               where=[("?x", "deprecated", "true")],
               delete=[("?x", "deprecated", "true")])
    assert got == {("numpy", "instance_of", "Library")}


def test_update_insert_only_derives(spark):
    rows = [("np", "alias_of", "numpy"),
            ("numpy", "instance_of", "Library")]
    got = _upd(spark, rows,
               where=[("?a", "alias_of", "?c"),
                      ("?c", "instance_of", "?t")],
               insert=[("?a", "instance_of", "?t")])
    assert got == set(rows) | {("np", "instance_of", "Library")}


def test_update_rewrite_alias_mentions(spark):
    # canonicalization rewrite: move mentions from alias to canonical
    rows = [("np", "alias_of", "numpy"),
            ("np", "mentioned_in", "d1"),
            ("np", "mentioned_in", "d2"),
            ("numpy", "mentioned_in", "d1")]
    got = _upd(spark, rows,
               where=[("?m", "alias_of", "?c"),
                      ("?m", "mentioned_in", "?d")],
               delete=[("?m", "mentioned_in", "?d")],
               insert=[("?c", "mentioned_in", "?d")])
    assert got == {("np", "alias_of", "numpy"),
                   ("numpy", "mentioned_in", "d1"),
                   ("numpy", "mentioned_in", "d2")}


def test_update_bindings_from_original_graph(spark):
    # the WHERE matches triples the DELETE removes: inserts must still
    # see the pre-update bindings (spec: one snapshot evaluation)
    rows = [("a", "p", "b"), ("b", "p", "c")]
    got = _upd(spark, rows,
               where=[("?x", "p", "?y"), ("?y", "p", "?z")],
               delete=[("?x", "p", "?y")],
               insert=[("?x", "shortcut", "?z")])
    assert got == {("b", "p", "c"), ("a", "shortcut", "c")}


def test_update_delete_and_reinsert_survives(spark):
    rows = [("a", "p", "b")]
    got = _upd(spark, rows,
               where=[("?x", "p", "?y")],
               delete=[("?x", "p", "?y")],
               insert=[("?x", "p", "?y")])
    assert got == {("a", "p", "b")}


def test_update_optional_null_drops_instantiation(spark):
    rows = [("numpy", "instance_of", "Library"),
            ("np", "alias_of", "numpy")]
    got = _upd(spark, rows,
               where=[("?x", "instance_of", "Library")],
               optional=[("?a", "alias_of", "?x")],
               insert=[("?a", "seen_alias_of", "?x"),
                       ("?x", "checked", "yes")])
    assert got == set(rows) | {("np", "seen_alias_of", "numpy"),
                               ("numpy", "checked", "yes")}


def test_update_needs_a_template(spark):
    from stackoverflowner_spark.operators.kgquery import update_triples
    with pytest.raises(ValueError, match="delete and/or insert"):
        update_triples(_df(spark), [("?x", "instance_of", "?t")])


def test_update_duckdb_parity(spark):
    import duckdb
    rng = random.Random(23)
    ents = [f"e{i}" for i in range(12)]
    rows = sorted({(rng.choice(ents),
                    rng.choice(["alias_of", "mentioned_in", "instance_of"]),
                    rng.choice(ents)) for _ in range(60)})
    got = _upd(spark, rows,
               where=[("?m", "alias_of", "?c"),
                      ("?m", "mentioned_in", "?d")],
               delete=[("?m", "mentioned_in", "?d")],
               insert=[("?c", "mentioned_in", "?d")])
    con = duckdb.connect()
    con.execute("create table t (subj varchar, pred varchar, obj varchar)")
    con.executemany("insert into t values (?, ?, ?)", rows)
    want = {tuple(r) for r in con.execute("""
        with sol as (select a.subj as m, a.obj as c, b.obj as d
                     from t a join t b on a.subj = b.subj
                     where a.pred = 'alias_of'
                       and b.pred = 'mentioned_in'),
        dels as (select distinct m, d from sol),
        ins as (select distinct c as subj, 'mentioned_in' as pred,
                       d as obj from sol),
        base as (select distinct subj, pred, obj from t),
        kept as (select * from base
                 where not exists (select 1 from dels
                                   where base.pred = 'mentioned_in'
                                     and base.subj = dels.m
                                     and base.obj = dels.d))
        select distinct subj, pred, obj from
          (select * from kept union all select * from ins)""").fetchall()}
    assert got == want


def test_kgq_cli_update(spark, tmp_path, capsys):
    import json as _json
    import tools.kgq as kgq
    tri = _df(spark, [
        ("np", "alias_of", "numpy"),
        ("np", "mentioned_in", "d1"),
        ("numpy", "instance_of", "Library"),
    ])
    p = str(tmp_path / "tri_upd.parquet")
    tri.write.parquet(p)
    rc = kgq.main([p, "?m alias_of ?c . ?m mentioned_in ?d",
                   "--delete", "?m mentioned_in ?d",
                   "--insert", "?c mentioned_in ?d",
                   "--master", "local[2]"])
    assert rc == 0
    got = {tuple(sorted(_json.loads(l).items()))
           for l in capsys.readouterr().out.strip().splitlines()}
    want = {tuple(sorted({"subj": s, "pred": pr, "obj": o}.items()))
            for s, pr, o in [("np", "alias_of", "numpy"),
                             ("numpy", "mentioned_in", "d1"),
                             ("numpy", "instance_of", "Library")]}
    assert got == want


# ---- SPARQL subqueries (r5o) ----

def test_subselect_aggregate_join(spark):
    # the canonical nested-SELECT idiom: count mentions per entity
    # inside, join back to the typed entities outside, filter on n
    from stackoverflowner_spark.operators.kgquery import bgp_agg
    tri = _df(spark)
    counts = bgp_agg(tri, [("?x", "mentioned_in", "?d")],
                     group_by=["x"], aggs=[("count", "d", "n")])
    out = bgp_match(tri, [("?x", "instance_of", "Library")],
                    subselects=[counts],
                    filters=["n >= 2"], select=["x", "n"])
    assert {(r.x, r.n) for r in out.collect()} == {("numpy", 2)}


def test_subselect_bgp_join_and_bind(spark):
    tri = _df(spark)
    inner = bgp_match(tri, [("?a", "alias_of", "?x")], distinct=False)
    out = bgp_match(tri, [("?x", "instance_of", "?t")],
                    subselects=[inner],
                    bind=[("label", "concat(a, '->', x)")],
                    select=["label", "t"])
    assert {(r.label, r.t) for r in out.collect()} == {
        ("np->numpy", "Library"), ("pd->pandas", "Library")}


def test_subselect_unanchored_rejected(spark):
    tri = _df(spark)
    other = tri.sparkSession.createDataFrame([("z1",)], "zzz string")
    with pytest.raises(ValueError, match="subselect 0"):
        bgp_match(tri, [("?x", "instance_of", "Library")],
                  subselects=[other])


def test_subselect_duckdb_parity(spark):
    import duckdb
    from stackoverflowner_spark.operators.kgquery import bgp_agg
    rng = random.Random(31)
    ents = [f"e{i}" for i in range(10)]
    docs = [f"d{i}" for i in range(6)]
    rows = sorted({(rng.choice(ents), "mentioned_in", rng.choice(docs))
                   for _ in range(45)}
                  | {(e, "instance_of", "Library")
                     for e in ents if int(e[1:]) % 2 == 0})
    tri = _df(spark, rows)
    counts = bgp_agg(tri, [("?x", "mentioned_in", "?d")],
                     group_by=["x"], aggs=[("count", "d", "n")])
    out = bgp_match(tri, [("?x", "instance_of", "Library")],
                    subselects=[counts], select=["x", "n"])
    got = {(r.x, r.n) for r in out.collect()}
    con = duckdb.connect()
    con.execute("create table t (subj varchar, pred varchar, obj varchar)")
    con.executemany("insert into t values (?, ?, ?)", rows)
    want = {tuple(r) for r in con.execute("""
        select distinct t.subj, sq.n
        from t
        join (select subj, count(obj) as n from t
              where pred = 'mentioned_in' group by subj) sq
          on sq.subj = t.subj
        where t.pred = 'instance_of' and t.obj = 'Library'""").fetchall()}
    assert got == want


def test_subselect_through_bgp_agg(spark):
    # aggregate over a solution stream that itself joins a subquery:
    # per type, how many entities have >= 2 mentions
    from stackoverflowner_spark.operators.kgquery import bgp_agg
    tri = _df(spark)
    counts = bgp_agg(tri, [("?x", "mentioned_in", "?d")],
                     group_by=["x"], aggs=[("count", "d", "n")])
    out = bgp_agg(tri, [("?x", "instance_of", "?t")],
                  subselects=[counts], filters=["n >= 2"],
                  group_by=["t"], aggs=[("count_distinct", "x", "k")])
    # numpy (d1, d2) and python (d1, d3) each have 2 mentions; pandas 1
    assert {(r.t, r.k) for r in out.collect()} == {
        ("Library", 1), ("Language", 1)}


def test_subselect_through_construct_and_update(spark):
    from stackoverflowner_spark.operators.kgquery import (bgp_agg,
                                                          construct,
                                                          update_triples)
    tri = _df(spark)
    counts = bgp_agg(tri, [("?x", "mentioned_in", "?d")],
                     group_by=["x"], aggs=[("count", "d", "n")])
    # CONSTRUCT a popularity marker for well-mentioned entities
    out = construct(tri, [("?x", "instance_of", "?t")],
                    template=[("?x", "well_mentioned", "?t")],
                    subselects=[counts], filters=["n >= 2"])
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert got == {("numpy", "well_mentioned", "Library"),
                   ("python", "well_mentioned", "Language")}
    # UPDATE: retype them, keyed by the same subquery
    upd = update_triples(tri, [("?x", "instance_of", "?t")],
                         subselects=[counts], filters=["n >= 2"],
                         delete=[("?x", "instance_of", "?t")],
                         insert=[("?x", "instance_of", "Popular")])
    g2 = {(r.subj, r.pred, r.obj) for r in upd.collect()}
    assert ("numpy", "instance_of", "Popular") in g2
    assert ("numpy", "instance_of", "Library") not in g2
    assert ("pandas", "instance_of", "Library") in g2  # n=1: untouched
