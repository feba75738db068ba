#!/usr/bin/env python3
"""Command-line BGP queries over a materialized triples parquet.

The query surface of operators/kgquery.py without writing Python: a
SPARQL-ish WHERE string — patterns separated by ``.``, terms separated
by whitespace, ``?name`` terms are variables — compiled straight to
``bgp_match`` and printed as JSON lines.

    python tools/kgq.py /path/to/triples \\
        "?x instance_of Library . ?x mentioned_in ?d" [--select x,d]
        [--optional "?a alias_of ?x"] [--not-exists "?x flagged_as spam"]
        [--minus "?x instance_of Library"]
        [--values '{"vars": ["x"], "rows": [["numpy"], ["pandas"]]}']
        [--order-by=-d,x] [--offset 10] [--limit 100] [--master local[8]]
        [--group-by t --agg count:*:n --agg count_distinct:x:entities]
        [--construct "?x derived_pred ?d"] [--ask] [--describe x]
        [--filter "x like 'num%'"] [--bind "xu=upper(x)"]

Predicates ending in ``+`` or ``*`` are unbounded property paths
(transitive closure); ``p{lo,hi}`` is the bounded quantifier (walks of
length lo..hi); a leading ``^`` inverts a predicate; ``p1|p2``
is an alternative path; a leading ``!`` negates the set (``!p``,
``!p1|p2``); ``p1/p2`` is a sequence path (each step may use the other
operators — note ``/`` splits FIRST here, so ``a|b/c`` = ``(a|b)/c``).
``--ntriples`` reads the input as N-Triples text instead of parquet,
so an exported KG queries directly. ``--construct`` emits new
(subj, pred, obj) rows from each solution; ``--delete``/``--insert``
run SPARQL UPDATE's DELETE/INSERT WHERE and print the UPDATED graph
(kgquery.update_triples); ``--ask`` prints a boolean
existence answer; ``--describe VAR`` prints every triple touching the
resources bound to VAR; ``--filter``/``--bind`` are SPARQL FILTER /
BIND over the bound variables as Spark SQL expressions;
``--exists`` keeps only solutions where another block matches
(FILTER EXISTS); ``--graph '?g'`` binds each triple's provenance url
as a named-graph variable (confining every block to one page per
solution) and ``--graph LITERAL`` scopes the whole query to one page;
``--having`` filters aggregate results (with --group-by).

Literals containing spaces are not expressible in this mini-syntax (the
Python API takes arbitrary strings); it covers the dominant
entity/predicate/IRI case.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_patterns(s: str):
    pats = []
    for part in s.split("."):
        part = part.strip()
        if not part:
            continue
        terms = part.split()
        if len(terms) != 3:
            raise SystemExit(f"pattern needs 3 terms: {part!r}")
        pats.append(tuple(terms))
    if not pats:
        raise SystemExit("empty pattern string")
    return pats


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("triples", help="triples parquet path (subj, pred, obj)")
    ap.add_argument("where", help="BGP: '?s pred ?o . ?s pred2 lit'")
    ap.add_argument("--select", help="comma-separated output variables")
    ap.add_argument("--optional", default=None,
                    help="OPTIONAL block, same mini-syntax")
    ap.add_argument("--not-exists", dest="not_exists", default=None,
                    help="FILTER NOT EXISTS block, same mini-syntax")
    ap.add_argument("--exists", default=None,
                    help="FILTER EXISTS block, same mini-syntax")
    ap.add_argument("--graph", default=None,
                    help="GRAPH term: '?var' binds each triple's url as "
                         "a named-graph variable; a literal scopes the "
                         "query to that one graph/page")
    ap.add_argument("--having", dest="having", action="append", default=[],
                    help="HAVING: SQL boolean expression over grouping "
                         "vars and aggregate aliases (repeatable; "
                         "requires --group-by)")
    ap.add_argument("--minus", default=None,
                    help="MINUS block, same mini-syntax (domain-"
                         "intersection semantics: a block sharing no "
                         "variable removes nothing)")
    ap.add_argument("--values", default=None,
                    help='VALUES as JSON: {"vars": ["x"], "rows": '
                         '[["numpy"], [null]]} (null = UNDEF)')
    ap.add_argument("--order-by", dest="order_by", default=None,
                    help="comma-separated vars, -var for DESC "
                         "(solution modifier; top-k plan with --limit)")
    ap.add_argument("--offset", type=int, default=None,
                    help="skip the first N ordered solutions")
    ap.add_argument("--reorder", action="store_true",
                    help="cost-based BGP join order: selectivity-first "
                         "greedy over per-predicate stats instead of "
                         "the written pattern order")
    ap.add_argument("--limit", type=int, default=1000)
    ap.add_argument("--group-by", dest="group_by", default=None,
                    help="comma-separated grouping vars; switches to the "
                         "aggregate surface (bgp_agg)")
    ap.add_argument("--agg", action="append", default=[],
                    help="fn:var:alias with fn in count/count_distinct/"
                         "min/max (repeatable; var '*' counts bindings); "
                         "requires --group-by (may be empty: "
                         "--group-by '' aggregates the whole solution)")
    ap.add_argument("--construct", default=None,
                    help="CONSTRUCT template, same mini-syntax: emits "
                         "(subj, pred, obj) JSON rows built from each "
                         "WHERE solution instead of variable bindings")
    ap.add_argument("--ask", action="store_true",
                    help="ASK: print true/false for pattern existence")
    ap.add_argument("--describe", default=None, metavar="VAR",
                    help="DESCRIBE: print every (subj, pred, obj) whose "
                         "subject or object binds to this variable")
    ap.add_argument("--filter", dest="filters", action="append",
                    default=[],
                    help="FILTER: SQL boolean expression over the bound "
                         "variables (repeatable; e.g. \"x like 'num%%'\")")
    ap.add_argument("--bind", dest="binds", action="append", default=[],
                    help="BIND: var=sql_expr adds a computed variable "
                         "(repeatable; later binds may use earlier ones)")
    ap.add_argument("--delete", default=None,
                    help="SPARQL UPDATE: DELETE template patterns "
                         "(with --insert and/or alone); prints the "
                         "updated (subj, pred, obj) graph")
    ap.add_argument("--insert", default=None,
                    help="SPARQL UPDATE: INSERT template patterns")
    ap.add_argument("--ntriples", action="store_true",
                    help="input path is N-Triples text, not parquet "
                         "(parsed with operators/triples.parse_ntriples)")
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args(argv)
    if args.construct and (args.group_by is not None or args.ask):
        ap.error("--construct is exclusive with --group-by/--ask")
    if (args.delete or args.insert) and (args.construct or args.ask
                                         or args.describe
                                         or args.group_by is not None):
        ap.error("--delete/--insert are exclusive with "
                 "--construct/--ask/--describe/--group-by")
    if args.describe and (args.construct or args.group_by is not None
                          or args.ask):
        ap.error("--describe is exclusive with "
                 "--construct/--group-by/--ask")
    binds = []
    for spec in args.binds:
        var, sep, expr = spec.partition("=")
        if not sep or not var.strip() or not expr.strip():
            ap.error(f"--bind needs var=sql_expr, got {spec!r}")
        binds.append((var.strip(), expr.strip()))
    if args.agg and args.group_by is None:
        ap.error("--agg requires --group-by (use --group-by '' for a "
                 "whole-solution aggregate)")
    if args.having and args.group_by is None:
        ap.error("--having requires --group-by")

    from stackoverflowner_spark.operators.kgquery import (ask, bgp_agg,
                                                           bgp_match,
                                                           construct,
                                                           describe)
    from stackoverflowner_spark.session import get_spark

    spark = get_spark(app_name="kgq", master=args.master,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if args.ntriples:
        from stackoverflowner_spark.operators.triples import parse_ntriples
        tri = parse_ntriples(spark.read.text(args.triples))
    else:
        tri = spark.read.parquet(args.triples)
    optional = parse_patterns(args.optional) if args.optional else None
    not_exists = (parse_patterns(args.not_exists)
                  if args.not_exists else None)
    minus = parse_patterns(args.minus) if args.minus else None
    exists = parse_patterns(args.exists) if args.exists else None
    values = None
    if args.values:
        v = json.loads(args.values)
        values = (v["vars"], v["rows"])
    if args.ask:
        hit = ask(tri, parse_patterns(args.where), optional=optional,
                  not_exists=not_exists, exists=exists, minus=minus,
                  values=values, bind=binds, filters=args.filters,
                  graph=args.graph)
        print(json.dumps({"ask": bool(hit)}))
        return 0
    if args.describe:
        out = describe(tri, parse_patterns(args.where),
                       var=args.describe.lstrip("?"), optional=optional,
                       not_exists=not_exists, exists=exists, minus=minus,
                       values=values, bind=binds, filters=args.filters,
                       graph=args.graph)
    elif args.delete or args.insert:
        from stackoverflowner_spark.operators.kgquery import update_triples
        out = update_triples(
            tri, parse_patterns(args.where),
            delete=parse_patterns(args.delete) if args.delete else None,
            insert=parse_patterns(args.insert) if args.insert else None,
            optional=optional, not_exists=not_exists,
            exists=exists, minus=minus, values=values,
            bind=binds, filters=args.filters, graph=args.graph)
    elif args.construct:
        out = construct(tri, parse_patterns(args.where),
                        template=parse_patterns(args.construct),
                        optional=optional, not_exists=not_exists,
                        exists=exists, minus=minus, values=values,
                        bind=binds, filters=args.filters,
                        graph=args.graph)
    elif args.group_by is not None:
        aggs = []
        for spec in (args.agg or ["count:*:n"]):
            parts = spec.split(":")
            if len(parts) != 3:
                raise SystemExit(f"--agg needs fn:var:alias, got {spec!r}")
            aggs.append(tuple(parts))
        out = bgp_agg(tri, parse_patterns(args.where),
                      group_by=[g for g in args.group_by.split(",") if g],
                      aggs=aggs, optional=optional, not_exists=not_exists,
                      exists=exists, minus=minus, values=values,
                      bind=binds, filters=args.filters,
                      having=args.having, graph=args.graph)
    else:
        out = bgp_match(
            tri, parse_patterns(args.where),
            select=args.select.split(",") if args.select else None,
            optional=optional, not_exists=not_exists,
            exists=exists, minus=minus, values=values,
            bind=binds, filters=args.filters, graph=args.graph,
            order_by=(args.order_by.split(",") if args.order_by else None),
            offset=args.offset, reorder=args.reorder)
    rows = out.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), sort_keys=True))
    print(json.dumps({"rows": len(rows), "limit": args.limit}),
          file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
