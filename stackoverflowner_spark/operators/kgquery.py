"""SPARQL-style basic-graph-pattern (BGP) queries over the materialized KG.

The reference materializes its extractions as flat files and answers
"which entities / which types / which co-mentions" questions with ad-hoc
scripts (e.g. the entity frequency rollups around
``/root/reference/code/DataReader/utils_so.py`` and the annotated-corpus
count scripts); a KG engine should answer them declaratively. This module
is the engine-side query surface over the (subj, pred, obj[, url]) triple
table produced by ``operators/triples.py``: a conjunctive triple-pattern
query — the core of SPARQL's WHERE clause — compiled to DataFrame
self-joins so Catalyst plans it like any relational query.

Compilation (the textbook SPARQL->SQL translation):

* each pattern (s, p, o) becomes one scan of the triple table with its
  literal terms as pushed-down filters and its ``?var`` terms projected
  as columns named after the variable;
* patterns are folded left-to-right with inner joins on the variables
  they share with the accumulated prefix (a join-ordering the caller
  controls by writing selective patterns first — the same contract as
  SPARQL engines' BGP planners before cost-based reordering);
* the result is one row per variable binding, DISTINCT optional.

Scale notes (10^12-triple table, north rule): every literal lands in the
parquet/Iceberg scan as a pushed filter (``pred = 'instance_of'`` prunes
by far the most — predicates are few and the table is
subject-hash-partitioned, so a subj literal prunes partitions too). Each
join shuffles on the shared variable; AQE broadcasts the small side when
a selective pattern collapses one input. No pattern ever triggers a
cartesian product — patterns sharing no variable with the prefix are
rejected (explicit ``allow_product`` opt-in), the same guard the fuzzy
join and range join operators in this repo ship.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import checkpoint

_TERM_COLS = ("subj", "pred", "obj")

# bounded path quantifier suffix: pred{lo,hi}
_QUANT_RE = re.compile(r"^(.*)\{(\d+),(\d+)\}$")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _pattern_df(triples: DataFrame, pattern: Sequence[str],
                idx: int, graph_var: Optional[str] = None,
                graph_col: str = "url") -> Tuple[DataFrame, Dict[str, str]]:
    """One scan of the triple table: literals -> filters, vars -> columns.

    Returns (df, var->column mapping). A variable repeated WITHIN one
    pattern (e.g. (?x, likes, ?x)) compiles to an equality filter.

    A literal predicate ending in ``+`` or ``*`` (e.g. ``subclass_of+``)
    is an unbounded SPARQL property path: the pattern's relation becomes
    the predicate's transitive closure (``property_path_plus``) instead
    of a table scan, and the subj/obj terms bind against its two columns
    with the same literal/var rules. Note the closure runs its semi-naive
    iteration EAGERLY at compile time (schema-scale jobs — the loop scans
    only that predicate's edges).

    A literal predicate starting with ``^`` is a SPARQL inverse path:
    ``(s, ^p, o)`` binds exactly like ``(o, p, s)`` (term swap — zero
    plan cost), and composes with closure (``^p+`` = transpose of the
    closure). A literal predicate containing ``|`` is a SPARQL
    alternative path ``p1|p2|...``: the scan's pred filter becomes an
    ``IN`` list, still pushed to the scan. A leading ``^`` on an
    alternation inverts the WHOLE alternation — ``^p1|p2`` here means
    SPARQL's ``^(p1|p2)``, NOT the spec's ``(^p1)|p2`` precedence
    (mixed-direction alternation is a union of two scans, not one
    filter; write ``union_bgp`` blocks for that — documented
    divergence). Alternation does not combine with closure in one term
    (``(p1|p2)+`` — union two closure patterns instead; raised
    explicitly). Predicates literally named with a
    leading ``^``, a ``|``, or a trailing ``+``/``*`` are outside this
    mini-syntax — same documented caveat as the CLI's space rule.

    A literal predicate starting with ``!`` is a SPARQL negated property
    set: ``!p`` matches every predicate EXCEPT p, ``!p1|p2`` is the
    spec's ``!(p1|p2)``. The filter is still a scan-level predicate
    (``pred <> lit`` / ``pred NOT IN (...)``) — negation never widens
    the plan beyond one scan. ``^!p`` composes (inverse of the negated
    set, = SPARQL ``^(!p)``); negation with closure (``!p+``) is
    rejected — the closure of "every other predicate" is a different
    (and usually unintended) relation; write it over an explicit
    alternation instead.

    A literal predicate ending in ``{lo,hi}`` (e.g. ``subclass_of{1,3}``)
    is a bounded path quantifier: the pattern's relation becomes
    ``property_path_range`` (walk of length lo..hi — see its docstring
    for the walk-vs-min-distance semantics). It composes with ``^``
    (transpose) but not with ``!``, ``|`` or ``+``/``*`` (rejected
    explicitly); like the closures, it runs eagerly at compile time and
    is rejected inside a GRAPH ?var block.

    ``graph_var`` (from ``bgp_match(graph="?g")``) adds the table's
    ``graph_col`` column as one more bound variable on this pattern —
    SPARQL ``GRAPH ?g { ... }`` semantics fall out of the join: every
    pattern in the block binds the same ``?g``, so solutions are
    confined to one named graph. Closure predicates inside a
    graph-VARIABLE block are rejected (the closure would have to run
    per graph); a graph LITERAL prefilters the table upstream, so
    closure composes with it fine.
    """
    if len(pattern) != 3:
        raise ValueError(f"pattern {idx}: need (subj, pred, obj), got {pattern!r}")
    s_term, p_term, o_term = pattern
    if (not _is_var(p_term) and len(p_term) > 1 and p_term.startswith("^")):
        # inverse path: swap the subject/object terms, strip the ^ —
        # the closure and alternation branches below then see plain p
        s_term, o_term = o_term, s_term
        p_term = p_term[1:]
    negate = False
    if (not _is_var(p_term) and len(p_term) > 1 and p_term.startswith("!")):
        negate = True
        p_term = p_term[1:]
    rng: Optional[Tuple[int, int]] = None
    if not _is_var(p_term):
        qm = _QUANT_RE.match(p_term)
        if qm:
            if not qm.group(1):
                raise ValueError(
                    f"pattern {idx}: quantifier without a predicate "
                    f"({p_term!r})")
            rng = (int(qm.group(2)), int(qm.group(3)))
            p_term = qm.group(1)
            if p_term[-1] in "+*":
                raise ValueError(
                    f"pattern {idx}: quantifier on a closure "
                    f"({p_term}{{{rng[0]},{rng[1]}}}) is redundant — "
                    "use the closure or the bounded quantifier alone")
    alts: Optional[List[str]] = None
    if not _is_var(p_term) and "|" in p_term:
        if p_term[-1] in "+*":
            raise ValueError(
                f"pattern {idx}: alternation combined with closure "
                f"({p_term!r}) is not supported — write one closure "
                "pattern per predicate and UNION the blocks")
        parts = p_term.split("|")
        alts = [p for p in parts if p]
        if len(alts) != len(parts) or len(alts) < 2:
            raise ValueError(
                f"pattern {idx}: malformed alternation {p_term!r}")
    if (not _is_var(p_term)
            and ((len(p_term) > 1 and p_term[-1] in "+*")
                 or rng is not None)):
        if negate:
            raise ValueError(
                f"pattern {idx}: negated property set with closure or "
                f"quantifier (!{p_term!r}) is not supported — take the "
                "closure of an explicit alternation of the wanted "
                "predicates")
        if rng is not None and alts is not None:
            raise ValueError(
                f"pattern {idx}: quantified alternation "
                f"(({p_term}){{{rng[0]},{rng[1]}}}) is not supported — "
                "write one quantified pattern per predicate and UNION "
                "the blocks")
        if graph_var is not None:
            raise ValueError(
                f"pattern {idx}: closure/quantifier predicate "
                f"{p_term!r} inside a GRAPH ?var block is not supported "
                "(the closure would run per graph) — use a graph "
                "literal, which prefilters the table, or run the "
                "closure outside the GRAPH block")
        if rng is not None:
            rel = property_path_range(triples, p_term, rng[0], rng[1],
                                      start_var="__path_s",
                                      end_var="__path_o")
        else:
            rel = property_path_plus(triples, p_term[:-1],
                                     start_var="__path_s",
                                     end_var="__path_o",
                                     zero_or_more=p_term.endswith("*"))
        df = rel
        seen: Dict[str, str] = {}
        keep: List[str] = []
        for col, term in (("__path_s", s_term), ("__path_o", o_term)):
            if _is_var(term):
                var = term[1:]
                if not var:
                    raise ValueError(
                        f"pattern {idx}: bare '?' is not a variable")
                if var in seen:
                    df = df.filter(F.col(col) == F.col(seen[var]))
                else:
                    seen[var] = col
                    keep.append(F.col(col).alias(var))
            else:
                df = df.filter(F.col(col) == F.lit(term))
        if not keep:
            raise ValueError(
                f"pattern {idx}: all-literal patterns are not supported — "
                "filter the closure directly for existence tests")
        return df.select(*keep), {v: v for v in seen}
    df = triples
    seen: Dict[str, str] = {}
    keep: List[str] = []
    for col, term in zip(_TERM_COLS, (s_term, p_term, o_term)):
        if _is_var(term):
            var = term[1:]
            if not var:
                raise ValueError(f"pattern {idx}: bare '?' is not a variable")
            if var in seen:  # repeated var inside one pattern
                df = df.filter(F.col(col) == F.col(seen[var]))
            else:
                seen[var] = col
                keep.append(F.col(col).alias(var))
        elif col == "pred" and alts is not None:
            # alternative path: IN-list filter, still pushed to the scan
            df = df.filter(~F.col(col).isin(alts) if negate
                           else F.col(col).isin(alts))
        elif col == "pred" and negate:
            df = df.filter(F.col(col) != F.lit(term))
        else:
            df = df.filter(F.col(col) == F.lit(term))
    if graph_var is not None:
        if graph_var in seen:  # GRAPH ?g { ?g p ?o }: equality filter
            df = df.filter(F.col(graph_col) == F.col(seen[graph_var]))
        else:
            seen[graph_var] = graph_col
            keep.append(F.col(graph_col).alias(graph_var))
    if not keep:
        # all-literal pattern: an existence test; keep a marker column so
        # the join below degenerates to a semi-ish cross of 0/1 rows
        raise ValueError(
            f"pattern {idx}: all-literal patterns are not supported — "
            "filter the triple table directly for existence tests")
    return df.select(*keep), {v: v for v in seen}


def triple_stats(triples: DataFrame) -> Dict[str, Tuple[int, int, int]]:
    """One schema-scale aggregate over the triple table:
    ``pred -> (n_triples, ~distinct subj, ~distinct obj)`` — the
    statistics ``reorder_patterns`` plans with. Predicates are few (the
    KG schema), so the collected dict is tiny regardless of table size;
    compute once per table and reuse across queries."""
    rows = (triples.groupBy("pred").agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("subj").alias("ns"),
        F.approx_count_distinct("obj").alias("no")).collect())
    return {r["pred"]: (r["n"], r["ns"], r["no"]) for r in rows}


def _pattern_vars(pattern: Sequence[str]) -> set:
    return {t[1:] for t in pattern if _is_var(t)}


def _expand_sequences(patterns: Sequence[Sequence[str]],
                      tag: str) -> List[Sequence[str]]:
    """SPARQL sequence paths: a literal predicate containing ``/``
    (``p1/p2/.../pk``) expands into its textbook chain — k patterns
    joined on fresh internal variables ``?__{tag}{i}_h{j}`` — exactly
    the spec's rewrite, so multiset semantics per intermediate binding
    are preserved. Each step may itself use the ``^``/``!``/``|``/
    closure mini-syntax (``a/^b/c+`` works). Internal hop variables are
    excluded from default projections by their ``__`` prefix.

    Precedence divergence (documented): this mini-syntax splits on
    ``/`` FIRST, so ``a|b/c`` means ``(a|b)/c`` — SPARQL's grammar
    binds ``/`` tighter (``a|(b/c)``); parenthesize by writing separate
    union blocks when the SPARQL reading is wanted.
    """
    out: List[Sequence[str]] = []
    for i, pat in enumerate(patterns):
        if len(pat) != 3 or _is_var(pat[1]) or "/" not in pat[1]:
            out.append(pat)
            continue
        s, p, o = pat
        steps = p.split("/")
        if any(not st for st in steps):
            raise ValueError(
                f"pattern {i}: malformed sequence path {p!r}")
        prev = s
        for j, st in enumerate(steps):
            nxt = o if j == len(steps) - 1 else f"?__{tag}{i}_h{j}"
            out.append((prev, st, nxt))
            prev = nxt
    return out


def _estimate_rows(pattern: Sequence[str],
                   stats: Dict[str, Tuple[int, int, int]]) -> float:
    """Textbook cardinality estimate of one triple pattern: the
    predicate's row count, divided by its distinct-subject (resp.
    -object) count per bound literal — uniformity assumption, the
    System-R/SPARQL-engine baseline."""
    s, p, o = pattern
    tot_n = lambda: sum(v[0] for v in stats.values()) or 1  # noqa: E731
    if _is_var(p):
        n = tot_n()
        ns = sum(v[1] for v in stats.values()) or 1
        no = sum(v[2] for v in stats.values()) or 1
    else:
        qrepeat = 1
        qm = _QUANT_RE.match(p)
        if qm and qm.group(1):
            p = qm.group(1)  # bounded quantifier: estimate per power
            qlo, qhi = int(qm.group(2)), int(qm.group(3))
            qrepeat = max(qhi - max(qlo, 1) + 1, 1)
        closed = len(p) > 1 and p[-1] in "+*"
        key = p[:-1] if closed else p
        if key.startswith("^"):  # inverse path: same edge set, swapped
            key = key[1:]        # ends — handled by the s/o division below
            s, o = o, s
        neg = key.startswith("!")
        if neg:
            key = key[1:]
        if "|" in key:  # alternation: sum the branch predicates
            got = [stats.get(k, (0, 1, 1)) for k in key.split("|") if k]
            n = sum(g[0] for g in got)
            ns = max((g[1] for g in got), default=1) or 1
            no = max((g[2] for g in got), default=1) or 1
        else:
            n, ns, no = stats.get(key, (0, 1, 1))
        if neg:  # negated set: everything except the matched predicates
            n = max(tot_n() - n, 0)
            ns = sum(v[1] for v in stats.values()) or 1
            no = sum(v[2] for v in stats.values()) or 1
        if closed:  # unbounded path: the closure is >= the edge set;
            n *= 4  # a fixed expansion factor keeps it ranked honestly
        n *= qrepeat  # bounded quantifier: one power per length
        n, ns, no = n or 0.5, ns or 1, no or 1
    est = float(n)
    if not _is_var(s):
        est /= ns
    if not _is_var(o):
        est /= no
    return max(est, 1e-3)


def reorder_patterns(patterns: Sequence[Sequence[str]],
                     stats: Dict[str, Tuple[int, int, int]]
                     ) -> List[Sequence[str]]:
    """Greedy selectivity-first join order: start from the pattern with
    the smallest estimated cardinality, then repeatedly append the
    cheapest remaining pattern that shares a variable with the prefix
    (keeping the plan product-free whenever a connected order exists;
    genuinely disconnected groups fall back to cheapest-first and hit
    ``bgp_match``'s product guard exactly as the written order would).
    Pure driver-side planning over the tiny stats dict — no jobs."""
    rest = list(patterns)
    ests = {id(p): _estimate_rows(p, stats) for p in rest}
    out: List[Sequence[str]] = []
    bound: set = set()
    while rest:
        connected = [p for p in rest if _pattern_vars(p) & bound]
        pool = connected or rest
        best = min(pool, key=lambda p: ests[id(p)])
        out.append(best)
        rest.remove(best)
        bound |= _pattern_vars(best)
    return out


def bgp_match(triples: DataFrame, patterns: Sequence[Sequence[str]],
              select: Optional[Sequence[str]] = None,
              optional: Optional[Sequence[Sequence[str]]] = None,
              not_exists: Optional[Sequence[Sequence[str]]] = None,
              exists: Optional[Sequence[Sequence[str]]] = None,
              minus: Optional[Sequence[Sequence[str]]] = None,
              values: Optional[Tuple[Sequence[str],
                                     Sequence[Sequence[Optional[str]]]]] = None,
              bind: Optional[Sequence[Tuple[str, str]]] = None,
              filters: Optional[Sequence[str]] = None,
              subselects: Optional[Sequence[DataFrame]] = None,
              graph: Optional[str] = None,
              graph_col: str = "url",
              distinct: bool = True,
              allow_product: bool = False,
              order_by: Optional[Sequence[str]] = None,
              limit: Optional[int] = None,
              offset: Optional[int] = None,
              reorder: bool = False,
              stats: Optional[Dict[str, Tuple[int, int, int]]] = None
              ) -> DataFrame:
    """Match a conjunctive basic graph pattern against a triple table.

    ``triples`` must carry (subj, pred, obj) string columns (extra
    columns are ignored). ``patterns`` is a list of (s, p, o) tuples
    whose terms are literals or ``?var`` strings. Returns one column per
    variable (or per ``select`` entry), one row per binding.

    ``optional`` patterns are SPARQL OPTIONAL semantics: left-joined
    after the required patterns, so their variables come back NULL where
    the pattern has no match but never eliminate a required binding.
    Each optional pattern must share >= 1 variable with the required
    block (an unanchored OPTIONAL would be a product).

    ``exists`` is SPARQL ``FILTER EXISTS {...}``: the block compiles as
    its own conjunctive BGP and solutions are KEPT iff the block has at
    least one consistent match — a LEFT SEMI join on the shared
    variables, so the block's bindings never widen the main stream and
    the probe side deduplicates inside the join. Must share >= 1
    variable with the required patterns, same anchoring rule as
    ``not_exists`` (which see, next).

    ``not_exists`` is SPARQL ``FILTER NOT EXISTS {...}``: the block is
    compiled as its own conjunctive BGP and bindings with at least one
    consistent solution are removed via LEFT ANTI join on the variables
    the block shares with the required patterns — the anti-join shuffles
    on the shared vars, never materializing the negation's full binding
    set against the main stream. The block must share >= 1 variable.

    ``minus`` is SPARQL ``MINUS {...}``: like ``not_exists`` it removes
    solutions that the block also produces, but with the spec's
    domain-intersection semantics — a block sharing NO variable with the
    required patterns removes NOTHING (SPARQL 1.1 §8.3's classic
    ``MINUS {?x ?y ?z}`` no-op), where ``not_exists`` would reject the
    query as unanchored. Restriction vs the spec: the anti-join keys on
    ALL shared variables, so a solution carrying an OPTIONAL-unbound
    NULL in one shared var while matching on the others is kept (Spark
    NULL-key semantics) though SPARQL's per-solution domain intersection
    would remove it — documented divergence; fully-bound solutions (the
    non-OPTIONAL case) match the spec exactly.

    ``values`` is SPARQL ``VALUES (?v1 ?v2) { (lit UNDEF) ... }``:
    ``([var, ...], [[lit_or_None, ...], ...])`` — an inline binding
    table joined against the solutions with compatibility semantics
    (``None`` = UNDEF constrains nothing in that row). Every values var
    must be bound by the required patterns. Join multiset semantics:
    a solution compatible with k values rows appears k times (collapsed
    by DISTINCT unless ``distinct=False``). Compiled per UNDEF-mask
    group into broadcast hash joins on the defined columns — inline data
    is literal-sized, so no shuffle and never a nested loop.

    ``bind`` is SPARQL ``BIND(expr AS ?var)``: ``[(var, sql_expr), ...]``
    — each entry adds a computed column named ``var`` from a Spark SQL
    expression over the variables in scope (pattern vars, OPTIONAL vars,
    and earlier binds — entries apply in order). Rebinding a variable
    already in scope is rejected, SPARQL's own rule. The expression is a
    pure projection: no shuffle, fused into whatever stage carries the
    solution stream. Bound vars are selectable and order_by-able but are
    not join keys for negation blocks (those key on pattern variables).

    ``filters`` is SPARQL ``FILTER(expr)``: a list of Spark SQL boolean
    expressions over the in-scope variables (incl. binds), each applied
    as a relational filter on the solution stream. SPARQL's
    error-yields-false rule maps to SQL NULL semantics: a filter that
    evaluates NULL (e.g. comparing an OPTIONAL var that is unbound)
    eliminates the row — matching the spec for the comparison/regex
    forms this string domain supports. Filters over single-pattern vars
    are pushed by Catalyst through the joins to the scan like any
    relational predicate.

    ``subselects`` are SPARQL 1.1 subqueries: each entry is a solution
    DataFrame whose COLUMNS are variable names — typically a
    ``bgp_agg`` result (the nested ``SELECT ?x (COUNT(?d) AS ?n)``
    idiom: aggregate inside, join the aggregate back to the outer
    pattern on the shared variables) or another ``bgp_match``. Each is
    inner-joined on the variables it shares with the accumulated
    solutions, right after the required patterns (spec evaluation
    order: subqueries evaluate bottom-up, then join as group members);
    its non-shared columns become in-scope variables for
    filters/bind/select. An entry sharing no variable is rejected
    under the same product guard as patterns.

    ``graph`` is SPARQL ``GRAPH g { ... }`` over the triple table's
    provenance column (``graph_col``, default ``url`` — the page a
    triple was extracted from IS its named graph here). A literal
    ``graph`` prefilters the table before matching (one pushed scan
    filter; composes with everything incl. closures). A ``"?var"``
    graph binds the provenance column as one more variable on EVERY
    pattern — required, OPTIONAL, and the exists/not_exists/minus
    blocks, which inherit the graph — so the whole block is confined to
    a single named graph per solution, the spec's semantics, and the
    graph variable is selectable/groupable like any other. Closure
    predicates inside a graph-VARIABLE block are rejected (per-graph
    closure); use a graph literal for that.

    ``order_by`` / ``limit`` / ``offset`` are the SPARQL solution
    modifiers, applied in spec order after projection+DISTINCT:
    ``order_by`` entries are variable names, ``-var`` for DESC.
    ``order_by``+``limit`` plans as Spark's TakeOrderedAndProject — a
    per-partition top-k then a driver-side merge of k-row heaps, never
    a global sort of the binding set.

    ``reorder=True`` replaces the caller's pattern order with the
    greedy selectivity-first order of ``reorder_patterns`` (per-pattern
    cardinality estimated from ``triple_stats`` — pass a precomputed
    ``stats`` dict to amortize it across queries; otherwise one
    schema-scale agg runs here). Inner joins commute over the solution
    multiset, so the bindings are identical; without ``select`` the
    output COLUMN order follows the chosen join order.

    >>> bgp_match(t, [("?x", "instance_of", "?t"),
    ...               ("?x", "mentioned_in", "?d")], select=["x", "t"])
    """
    if not patterns:
        raise ValueError("empty basic graph pattern")
    gvar: Optional[str] = None
    base = triples
    if graph is not None:
        if graph_col not in triples.columns:
            raise ValueError(
                f"graph requires a {graph_col!r} column on the triple "
                f"table; have {triples.columns}")
        if _is_var(graph):
            gvar = graph[1:]
            if not gvar:
                raise ValueError("graph: bare '?' is not a variable")
        else:
            base = base.filter(F.col(graph_col) == F.lit(graph))
    base = base.select(*_TERM_COLS, *([graph_col] if gvar else []))
    patterns = _expand_sequences(patterns, tag="s")
    if reorder:
        patterns = reorder_patterns(patterns,
                                    stats if stats is not None
                                    else triple_stats(triples))
    acc: Optional[DataFrame] = None
    bound: List[str] = []
    for i, pat in enumerate(patterns):
        df, vars_i = _pattern_df(base, pat, i,
                                 graph_var=gvar, graph_col=graph_col)
        if acc is None:
            acc, bound = df, list(vars_i)
            continue
        shared = [v for v in vars_i if v in bound]
        if not shared and not allow_product:
            raise ValueError(
                f"pattern {i} {pat!r} shares no variable with the "
                "preceding patterns — this is a cartesian product; "
                "reorder the BGP or pass allow_product=True")
        acc = (acc.join(df, on=shared, how="inner") if shared
               else acc.crossJoin(df))
        bound += [v for v in vars_i if v not in bound]
    for i, sub in enumerate(subselects or []):
        sub_vars = list(sub.columns)
        shared = [v for v in sub_vars if v in bound]
        if not shared and not allow_product:
            raise ValueError(
                f"subselect {i} (columns {sub_vars}) shares no variable "
                "with the preceding patterns — this is a cartesian "
                "product; bind a shared variable or pass "
                "allow_product=True")
        acc = (acc.join(sub, on=shared, how="inner") if shared
               else acc.crossJoin(sub))
        bound += [v for v in sub_vars if v not in bound]
    for i, pat in enumerate(optional or []):
        if len(pat) == 3 and not _is_var(pat[1]) and "/" in pat[1]:
            # sequence path under OPTIONAL: compile the WHOLE chain as a
            # sub-BGP, then one left join — expanding inline would let a
            # half-matched path bind the left end with a NULL right end
            chain = _expand_sequences([pat], tag=f"o{i}")
            sub_sel = sorted({t[1:] for t in (pat[0], pat[2])
                              if _is_var(t)} | ({gvar} if gvar else set()))
            df = bgp_match(triples, chain, select=sub_sel, distinct=False,
                           graph=graph, graph_col=graph_col)
            vars_i = {v: v for v in sub_sel}
        else:
            df, vars_i = _pattern_df(base, pat, len(patterns) + i,
                                     graph_var=gvar, graph_col=graph_col)
        shared = [v for v in vars_i if v in bound]
        if not shared:
            raise ValueError(
                f"optional pattern {pat!r} shares no variable with the "
                "required patterns — an unanchored OPTIONAL is a product")
        acc = acc.join(df, on=shared, how="left")
        bound += [v for v in vars_i if v not in bound]
    if values is not None:
        acc = _apply_values(acc, bound, values)
    for i, (var, expr) in enumerate(bind or []):
        if var in bound:
            raise ValueError(
                f"bind {i}: BIND would rebind ?{var}, already in scope "
                f"({sorted(bound)}) — SPARQL forbids reassignment")
        acc = acc.withColumn(var, F.expr(expr))
        bound.append(var)
    for expr in (filters or []):
        acc = acc.filter(F.expr(expr))
    if exists:
        pos = bgp_match(triples, exists, distinct=False,
                        allow_product=allow_product,
                        graph=graph, graph_col=graph_col)
        shared = [v for v in pos.columns if v in bound]
        if not shared:
            raise ValueError(
                "exists block shares no variable with the required "
                "patterns — an unanchored EXISTS keeps everything or "
                "nothing; write it as a separate ask() query")
        acc = acc.join(pos.select(*shared), on=shared, how="left_semi")
    if not_exists:
        neg = bgp_match(triples, not_exists, distinct=False,
                        allow_product=allow_product,
                        graph=graph, graph_col=graph_col)
        shared = [v for v in neg.columns if v in bound]
        if not shared:
            raise ValueError(
                "not_exists block shares no variable with the required "
                "patterns — an unanchored negation filters nothing or "
                "everything; write it as a separate existence query")
        acc = acc.join(neg.select(*shared), on=shared, how="left_anti")
    if minus:
        neg = bgp_match(triples, minus, distinct=False,
                        allow_product=allow_product,
                        graph=graph, graph_col=graph_col)
        shared = [v for v in neg.columns if v in bound]
        if shared:  # disjoint domains: SPARQL MINUS removes nothing
            acc = acc.join(neg.select(*shared), on=shared, how="left_anti")
    # sequence-path hop variables (__-prefixed) are query-internal: they
    # join but never project unless explicitly selected
    proj = select or [v for v in bound if not v.startswith("__")]
    if not proj:
        raise ValueError(
            "no selectable variables (all variables are internal "
            "sequence hops) — use ask() for pure existence tests")
    out = acc.select(*proj)
    if distinct:
        out = out.distinct()
    if order_by:
        cols = []
        for spec in order_by:
            desc = spec.startswith("-")
            name = spec[1:] if desc else spec
            if name not in out.columns:
                raise ValueError(f"order_by var {name!r} is not in the "
                                 f"projection {out.columns}")
            cols.append(F.col(name).desc() if desc else F.col(name).asc())
        out = out.orderBy(*cols)
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def _apply_values(acc: DataFrame, bound: Sequence[str],
                  values: Tuple[Sequence[str],
                                Sequence[Sequence[Optional[str]]]]
                  ) -> DataFrame:
    """Inline VALUES data joined with compatibility semantics: rows are
    grouped by their UNDEF mask; each group becomes one broadcast hash
    join on its defined columns; group results union (join multiset)."""
    vars_, rows = values
    if not vars_ or not rows:
        raise ValueError("values needs >= 1 variable and >= 1 row")
    unbound = [v for v in vars_ if v not in bound]
    if unbound:
        raise ValueError(
            f"values vars {unbound} are not bound by the required "
            "patterns — VALUES-introduced fresh bindings are not "
            "supported; add a pattern that binds them")
    by_mask: Dict[Tuple[bool, ...], List[Tuple[str, ...]]] = {}
    for r in rows:
        if len(r) != len(vars_):
            raise ValueError(f"values row {r!r} does not match vars {vars_}")
        mask = tuple(t is not None for t in r)
        by_mask.setdefault(mask, []).append(
            tuple(t for t in r if t is not None))
    spark = acc.sparkSession
    parts: List[DataFrame] = []
    for mask, mrows in by_mask.items():
        defined = [v for v, keep in zip(vars_, mask) if keep]
        if not defined:  # all-UNDEF row: compatible with every solution
            for _ in mrows:
                parts.append(acc)
            continue
        schema = ", ".join(f"{v} string" for v in defined)
        vdf = spark.createDataFrame(mrows, schema)
        parts.append(acc.join(F.broadcast(vdf), on=defined, how="inner"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def union_bgp(triples: DataFrame, blocks: Sequence[Sequence[Sequence[str]]],
              select: Sequence[str],
              distinct: bool = True) -> DataFrame:
    """SPARQL ``{ BGP1 } UNION { BGP2 } ...``: each block is compiled
    independently and the binding sets are unioned on the shared
    ``select`` columns (every block must bind all of them — SPARQL's
    unbound-var NULLs are deliberately rejected here; use ``optional``
    inside a block for that). DISTINCT collapses duplicates across
    blocks, matching SPARQL set semantics.
    """
    if not blocks:
        raise ValueError("empty UNION")
    outs = []
    for i, pats in enumerate(blocks):
        df = bgp_match(triples, pats, select=select, distinct=False)
        outs.append(df)
    acc = outs[0]
    for df in outs[1:]:
        acc = acc.unionByName(df)
    return acc.distinct() if distinct else acc


_AGG_FNS = {
    "count": lambda v: F.count(v),
    "count_distinct": lambda v: F.countDistinct(v),
    "min": lambda v: F.min(v),
    "max": lambda v: F.max(v),
    # SPARQL SUM/AVG over a string triple domain: numeric-literal objects
    # cast to double; try_cast so non-numeric strings become NULL and are
    # skipped by the aggregate (SPARQL's own error-silencing behavior)
    # instead of failing the job under ANSI mode
    "sum": lambda v: F.sum(v.try_cast("double")),
    "avg": lambda v: F.avg(v.try_cast("double")),
    # SPARQL SAMPLE picks an arbitrary element; min() is a deterministic
    # (and thus testable/resumable) arbitrary choice
    "sample": lambda v: F.min(v),
    # SPARQL GROUP_CONCAT: the spec fixes no element order, so sort the
    # group first — deterministic across partitionings and engines
    "group_concat": lambda v: F.array_join(
        F.array_sort(F.collect_list(v)), ","),
}


def bgp_agg(triples: DataFrame, patterns: Sequence[Sequence[str]],
            group_by: Sequence[str],
            aggs: Sequence[Tuple[str, str, str]],
            optional: Optional[Sequence[Sequence[str]]] = None,
            not_exists: Optional[Sequence[Sequence[str]]] = None,
            exists: Optional[Sequence[Sequence[str]]] = None,
            minus: Optional[Sequence[Sequence[str]]] = None,
            values: Optional[Tuple[Sequence[str],
                                   Sequence[Sequence[Optional[str]]]]] = None,
            bind: Optional[Sequence[Tuple[str, str]]] = None,
            filters: Optional[Sequence[str]] = None,
            having: Optional[Sequence[str]] = None,
            subselects: Optional[Sequence[DataFrame]] = None,
            graph: Optional[str] = None,
            graph_col: str = "url",
            solution_distinct: bool = False) -> DataFrame:
    """SPARQL ``SELECT ?g (COUNT(?x) AS ?n) ... GROUP BY ?g`` over a BGP.

    ``aggs`` entries are (fn, var, alias) with fn one of
    count / count_distinct / min / max / sum / avg / sample /
    group_concat (sum/avg cast the string domain to double, SPARQL's
    numeric-literal behavior; sample is deterministic-min; group_concat
    sorts the group so output is engine/partitioning-independent).
    Aggregation runs over the solution
    MULTISET (SPARQL semantics: no implicit DISTINCT on the bindings —
    ``bgp_match`` is called with distinct=False); pass
    ``solution_distinct=True`` for the ``SELECT DISTINCT`` sub-query
    shape. The group-by shuffles on the grouping vars with partial
    (map-side) aggregation, so a 10^12-triple BGP rolls up without the
    binding set ever materializing past the first agg exchange.

    ``having`` is SPARQL ``HAVING(expr)``: Spark SQL boolean expressions
    over the grouping vars and aggregate ALIASES, filtered after the
    aggregation (one more predicate on the post-agg stream, no extra
    shuffle). ``exists``/``graph``/``graph_col`` pass through to the
    solution ``bgp_match``.
    """
    if not aggs:
        raise ValueError("bgp_agg needs at least one (fn, var, alias)")
    sol = bgp_match(triples, patterns, optional=optional,
                    not_exists=not_exists, exists=exists,
                    minus=minus, values=values,
                    bind=bind, filters=filters,
                    subselects=subselects,
                    graph=graph, graph_col=graph_col,
                    distinct=solution_distinct)
    missing = [v for v in group_by if v not in sol.columns]
    if missing:
        raise ValueError(f"group_by vars {missing} not bound by the BGP")
    cols = []
    for fn, var, alias in aggs:
        if fn not in _AGG_FNS:
            raise ValueError(f"unknown aggregate {fn!r}; "
                             f"supported: {sorted(_AGG_FNS)}")
        if var != "*" and var not in sol.columns:
            raise ValueError(f"aggregate var {var!r} not bound by the BGP")
        cols.append(_AGG_FNS[fn](F.lit(1) if var == "*" else F.col(var))
                    .alias(alias))
    out = (sol.agg(*cols) if not group_by  # whole-solution agg, one row
           else sol.groupBy(*group_by).agg(*cols))
    for expr in (having or []):
        out = out.filter(F.expr(expr))
    return out


def property_path(triples: DataFrame, start_var: str,
                  preds: Sequence[str], end_var: str,
                  distinct: bool = True) -> DataFrame:
    """Fixed-length SPARQL property path ``start p1/p2/.../pk end``.

    Sugar over ``bgp_match``: hop i joins on the intermediate variable
    ``_h{i}``. Returns two columns (start_var, end_var). Unbounded ``*``
    paths are the BFS/components operators' territory
    (``operators/graphalgo.py``, ``operators/components.py``); a fixed
    chain stays a pure relational plan with k-1 shuffles.
    """
    if not preds:
        raise ValueError("property_path needs at least one predicate")
    pats = []
    prev = "?" + start_var
    for i, p in enumerate(preds):
        nxt = "?" + end_var if i == len(preds) - 1 else f"?_h{i}"
        pats.append((prev, p, nxt))
        prev = nxt
    return bgp_match(triples, pats, select=[start_var, end_var],
                     distinct=distinct)


def property_path_plus(triples: DataFrame, pred: str,
                       start_var: str = "start",
                       end_var: str = "end",
                       zero_or_more: bool = False,
                       max_depth: int = 30) -> DataFrame:
    """Unbounded SPARQL property path ``start pred+ end`` (or ``pred*``).

    ``pred+`` (one-or-more) is the transitive closure of the predicate's
    edge set — delegated to ``operators/inference.transitive_closure``
    (semi-naive delta iteration, O(new pairs) per round, cycle-safe).
    ``zero_or_more=True`` gives ``pred*``: the closure unioned with the
    zero-length path, which this engine scopes to every node incident to
    a ``pred`` edge (SPARQL's spec text binds zero-length paths to ALL
    terms in the graph; the incident-node scope is the useful subset and
    keeps the result proportional to the predicate, not the whole KG —
    documented divergence).

    Scale shape: the closure loop touches only ``pred`` edges (one pushed
    ``pred = literal`` scan), so cost tracks that predicate's edge count
    and hierarchy depth — not the 10^12-triple table. Closure output is
    pair-bounded; for corpus-diameter graphs use bfs_dist/sssp instead
    (same guidance as ``property_path``).
    """
    from .inference import transitive_closure
    edges = (triples.filter(F.col("pred") == pred)
             .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    cl = transitive_closure(edges, max_iter=max_depth)
    if zero_or_more:
        nodes = (edges.select(F.col("src").alias("n"))
                 .union(edges.select(F.col("dst").alias("n"))).distinct())
        cl = cl.union(nodes.select(F.col("n").alias("src"),
                                   F.col("n").alias("dst"))).distinct()
    return cl.select(F.col("src").alias(start_var),
                     F.col("dst").alias(end_var))


def property_path_range(triples: DataFrame, pred: str,
                        lo: int, hi: int,
                        start_var: str = "start",
                        end_var: str = "end",
                        max_hops: int = 30) -> DataFrame:
    """Bounded SPARQL path quantifier ``pred{lo,hi}``.

    Semantics follow the 2010 SPARQL 1.1 draft's ``elt{n,m}`` (dropped
    from the final REC; still shipped by engines as path-length
    modifiers): (a, b) qualifies iff some WALK of length k with
    lo <= k <= hi connects a to b along ``pred`` edges. This is NOT
    "minimum distance in [lo, hi]" — a directly-linked pair still
    matches ``{2,2}`` when a 2-step walk (e.g. through a cycle) also
    exists. Computed as boolean relation powers: R_1 = E,
    R_k = distinct(R_{k-1} compose E), unioned over k in [max(lo,1), hi];
    lo = 0 adds the zero-length identity on nodes incident to ``pred``
    (the same incident-node scope divergence documented on ``pred*``).

    Scale shape: each power is one shuffle join of the current pair
    relation (pair-bounded — in practice the k-hop neighborhood of the
    single predicate's edge set, never the 10^12-triple table) against
    the pushed ``pred = literal`` edge scan; ``hi`` bounds the loop and
    ``localCheckpoint`` truncates lineage per power. Early exit when a
    power comes back empty (DAG shorter than hi).
    """
    if lo < 0 or hi < lo or hi < 1:
        raise ValueError(f"bad quantifier bounds {{{lo},{hi}}}: need "
                         "0 <= lo <= hi and hi >= 1")
    if hi > max_hops:
        raise ValueError(f"quantifier upper bound {hi} exceeds max_hops="
                         f"{max_hops} — use property_path_plus for "
                         "unbounded reach")
    edges = (triples.filter(F.col("pred") == pred)
             .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
             .distinct().transform(checkpoint))
    e2 = edges.select(F.col("src").alias("__m"), F.col("dst").alias("__d"))
    cur = edges
    acc = cur if lo <= 1 else None
    for k in range(2, hi + 1):
        cur = (cur.join(e2, cur["dst"] == e2["__m"])
               .select(F.col("src"), F.col("__d").alias("dst"))
               .distinct().transform(checkpoint))
        if cur.isEmpty():
            break
        if k >= lo:
            acc = cur if acc is None else acc.unionByName(cur)
    if acc is None:  # lo > longest walk: empty relation, schema kept
        acc = edges.limit(0)
    out = acc.distinct()
    if lo == 0:
        nodes = (edges.select(F.col("src").alias("n"))
                 .unionByName(edges.select(F.col("dst").alias("n")))
                 .distinct())
        out = (out.unionByName(nodes.select(F.col("n").alias("src"),
                                            F.col("n").alias("dst")))
               .distinct())
    return out.select(F.col("src").alias(start_var),
                      F.col("dst").alias(end_var))


def construct(triples: DataFrame, patterns: Sequence[Sequence[str]],
              template: Sequence[Sequence[str]],
              optional: Optional[Sequence[Sequence[str]]] = None,
              not_exists: Optional[Sequence[Sequence[str]]] = None,
              exists: Optional[Sequence[Sequence[str]]] = None,
              minus: Optional[Sequence[Sequence[str]]] = None,
              values: Optional[Tuple[Sequence[str],
                                     Sequence[Sequence[Optional[str]]]]] = None,
              bind: Optional[Sequence[Tuple[str, str]]] = None,
              filters: Optional[Sequence[str]] = None,
              subselects: Optional[Sequence[DataFrame]] = None,
              graph: Optional[str] = None,
              graph_col: str = "url",
              distinct: bool = True) -> DataFrame:
    """SPARQL ``CONSTRUCT { template } WHERE { BGP }``: build NEW triples
    from every solution of the WHERE block — the declarative rule surface
    for KG enrichment (the imperative cousin of what rdfs_materialize
    hard-codes for the RDFS rules).

    ``template`` is a list of (s, p, o) tuples whose terms are literals
    or ``?var`` bound by the WHERE block; each solution instantiates
    every template pattern, and solutions where a template variable came
    back NULL (an OPTIONAL var with no match) drop that pattern's
    instantiation — SPARQL's incomplete-triple rule. Output is a
    (subj, pred, obj) DataFrame, DISTINCT by default (CONSTRUCT returns
    a graph, i.e. a set).

    Scale shape: the template instantiation is a generator projection
    (one ``explode`` of a template-sized array per solution row) fused
    into the solution stream's stage — no shuffle beyond the WHERE
    block's own joins and the final set-distinct.
    """
    if not template:
        raise ValueError("construct needs at least one template pattern")
    sol = bgp_match(triples, patterns, optional=optional,
                    not_exists=not_exists, exists=exists,
                    minus=minus, values=values,
                    bind=bind, filters=filters,
                    subselects=subselects,
                    graph=graph, graph_col=graph_col, distinct=False)
    out = _instantiate(sol, template)
    return out.distinct() if distinct else out


def _instantiate(sol: DataFrame,
                 template: Sequence[Sequence[str]]) -> DataFrame:
    """CONSTRUCT-template instantiation over a solution DataFrame: one
    struct per template pattern exploded per solution row, instantiations
    carrying a NULL term dropped (SPARQL's incomplete-triple rule).
    Shared by ``construct`` and ``update_triples``."""
    bound = set(sol.columns)

    def term_col(term: str, idx: int) -> F.Column:
        if _is_var(term):
            var = term[1:]
            if var not in bound:
                raise ValueError(
                    f"template pattern {idx}: variable ?{var} is not "
                    f"bound by the WHERE block (bound: {sorted(bound)})")
            return F.col(var).cast("string")
        return F.lit(term)

    structs = [
        F.struct(term_col(s, i).alias("subj"), term_col(p, i).alias("pred"),
                 term_col(o, i).alias("obj"))
        for i, (s, p, o) in enumerate(template)
    ]
    return (sol.select(F.explode(F.array(*structs)).alias("t"))
            .select("t.subj", "t.pred", "t.obj")
            .filter(F.col("subj").isNotNull() & F.col("pred").isNotNull()
                    & F.col("obj").isNotNull()))


def update_triples(triples: DataFrame, where: Sequence[Sequence[str]],
                   delete: Optional[Sequence[Sequence[str]]] = None,
                   insert: Optional[Sequence[Sequence[str]]] = None,
                   optional: Optional[Sequence[Sequence[str]]] = None,
                   not_exists: Optional[Sequence[Sequence[str]]] = None,
                   exists: Optional[Sequence[Sequence[str]]] = None,
                   minus: Optional[Sequence[Sequence[str]]] = None,
                   values: Optional[Tuple[Sequence[str],
                                          Sequence[Sequence[Optional[str]]]]]
                   = None,
                   bind: Optional[Sequence[Tuple[str, str]]] = None,
                   filters: Optional[Sequence[str]] = None,
                   subselects: Optional[Sequence[DataFrame]] = None,
                   graph: Optional[str] = None,
                   graph_col: str = "url") -> DataFrame:
    """SPARQL 1.1 UPDATE's ``DELETE { } INSERT { } WHERE { }`` as a pure
    transformation: returns the NEW graph
    ``(G - instantiate(delete)) UNION instantiate(insert)`` as a
    (subj, pred, obj) set — the declarative KG edit surface (retract a
    deprecated predicate, rewrite aliases to canonicals, retype
    entities) beside ``construct``'s derive-new-graph surface. At least
    one of ``delete``/``insert`` is required.

    Spec semantics respected: the WHERE block's bindings are evaluated
    ONCE against the ORIGINAL graph (deletes never starve the inserts'
    bindings and vice versa — guaranteed here by instantiating both
    templates from one solution DataFrame, shared via a lazy
    ``localCheckpoint`` so the BGP joins run once at first action, not
    once per template); DELETE applies before INSERT (a triple both
    deleted and inserted survives); template instantiations with an
    unbound OPTIONAL variable drop silently (the incomplete-triple
    rule, via ``_instantiate``). Like ``construct``, the result is the
    canonical 3-column graph — provenance columns of the input are not
    carried (re-derive evidence downstream or run updates before the
    evidence join).

    Scale shape: one BGP evaluation + two generator projections over
    its checkpointed solutions, one anti-join on the triple key for the
    delete, one union+distinct for the insert — every shuffle keyed on
    (subj, pred, obj), nothing pair-quadratic.
    """
    if not delete and not insert:
        raise ValueError("update_triples needs a delete and/or insert "
                         "template")
    sol = bgp_match(triples, where, optional=optional,
                    not_exists=not_exists, exists=exists,
                    minus=minus, values=values,
                    bind=bind, filters=filters,
                    subselects=subselects,
                    graph=graph, graph_col=graph_col,
                    distinct=False)
    if delete and insert:
        # both templates read the same solutions: share one evaluation
        sol = sol.localCheckpoint(eager=False)
    base = triples.select("subj", "pred", "obj").distinct()
    if delete:
        dels = _instantiate(sol, delete)
        base = base.join(dels, ["subj", "pred", "obj"], "left_anti")
    if insert:
        ins = _instantiate(sol, insert)
        base = base.unionByName(ins).distinct()
    return base


def ask(triples: DataFrame, patterns: Sequence[Sequence[str]],
        optional: Optional[Sequence[Sequence[str]]] = None,
        not_exists: Optional[Sequence[Sequence[str]]] = None,
        minus: Optional[Sequence[Sequence[str]]] = None,
        values: Optional[Tuple[Sequence[str],
                               Sequence[Sequence[Optional[str]]]]] = None,
        bind: Optional[Sequence[Tuple[str, str]]] = None,
        filters: Optional[Sequence[str]] = None,
        exists: Optional[Sequence[Sequence[str]]] = None,
        subselects: Optional[Sequence[DataFrame]] = None,
        graph: Optional[str] = None,
        graph_col: str = "url") -> bool:
    """SPARQL ``ASK { BGP }``: True iff the pattern has >= 1 solution.
    Planned as the BGP with a LIMIT 1 — every join's output is cut at
    the first row, so the probe never materializes the binding set."""
    sol = bgp_match(triples, patterns, optional=optional,
                    not_exists=not_exists, exists=exists,
                    minus=minus, values=values,
                    bind=bind, filters=filters,
                    subselects=subselects,
                    graph=graph, graph_col=graph_col, distinct=False)
    return sol.limit(1).count() > 0


def describe(triples: DataFrame, patterns: Sequence[Sequence[str]],
             var: str,
             optional: Optional[Sequence[Sequence[str]]] = None,
             not_exists: Optional[Sequence[Sequence[str]]] = None,
             minus: Optional[Sequence[Sequence[str]]] = None,
             values: Optional[Tuple[Sequence[str],
                                    Sequence[Sequence[Optional[str]]]]] = None,
             bind: Optional[Sequence[Tuple[str, str]]] = None,
             filters: Optional[Sequence[str]] = None,
             exists: Optional[Sequence[Sequence[str]]] = None,
             subselects: Optional[Sequence[DataFrame]] = None,
             graph: Optional[str] = None,
             graph_col: str = "url") -> DataFrame:
    """SPARQL ``DESCRIBE ?var WHERE { BGP }``: every triple whose subject
    or object is a resource the query binds to ``?var`` — the spec
    leaves the description form to the engine; this one returns the
    symmetric one-hop concise bounded description, the common choice.

    Output is a (subj, pred, obj) DataFrame, DISTINCT (a graph).

    Scale shape: the matched resource set stays a DataFrame (never
    collected) and drives two LEFT SEMI joins against the triple table —
    one on subj (partition-prunable under the subject-hash layout), one
    on obj — unioned with a final set-distinct. AQE broadcasts the
    resource side when the query is selective, which is the typical
    DESCRIBE (a handful of entities); a non-selective DESCRIBE degrades
    to two hash semi-joins, never a collect.
    """
    res = bgp_match(triples, patterns, select=[var], distinct=True,
                    optional=optional, not_exists=not_exists, exists=exists,
                    minus=minus, values=values, bind=bind, filters=filters,
                    graph=graph, graph_col=graph_col)
    r = (res.select(F.col(var).alias("__resource"))
         .filter(F.col("__resource").isNotNull()))
    t = triples.select(*_TERM_COLS)
    as_subj = t.join(r, t.subj == F.col("__resource"), "left_semi")
    as_obj = t.join(r, t.obj == F.col("__resource"), "left_semi")
    return as_subj.union(as_obj).distinct()
