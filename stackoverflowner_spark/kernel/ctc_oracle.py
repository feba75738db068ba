"""DuckDB oracle for the full CTC stack (VERDICT r4 Next #5).

``ctc_predict`` runs the M1-M4 pipeline — LM features -> Gaussian binning
-> MLP -> rule overlay (kernel/ctc.py) — vectorized inside a pandas UDF.
This module restates the ENTIRE transform in DuckDB SQL so the driver's
bitwise correctness gate covers it: trigram/unigram LM scoring, the RBF
binning, the FNV char-n-gram hashed embedding (``list_reduce`` replays the
exact 32-bit FNV-1a fold), both MLP layers as long-format weight joins,
argmax, and the IS_NUMBER rule.  The fitted artifact's parameters (LM count
tables, bin centers, trained weights) are written as parquet sidecars that
the SQL reads — the same pattern as the hyperplane/centroid literals the
similarity oracles embed, just parquet-shaped because w1 is 510x300.

Numeric agreement: the driver hashes only (token, ctc) — integers — so the
two engines need only agree on each token's ARGMAX, not on float bits.
Cross-engine float noise (summation order, libm ulps) is ~1e-12 on the
logits; ``tests/test_ctc_oracle.py`` gates that the minimum decision margin
over the oracled token set is orders of magnitude above that.

Token universe: the one CTC case DuckDB cannot replay is the IS_URL rule —
the reference URL regex (kernel/sotok.py:86) uses lookaheads, which
DuckDB's RE2 lacks.  The oracled universe therefore excludes a
SQL-expressible SUPERSET of URL-matching tokens (anything with ':' '/'
'www', or the dotted-TLD core with its lookaheads dropped — dropping a
lookahead only widens a match, so exclusion stays sound), plus non-ASCII
(the FNV fold hashes utf-8 bytes; DuckDB sees code points) and literal
'^'/'$' (the char-LM sentinel symbols).  Dotted code identifiers
("np.sum", "v1.2.3") stay in; the URL overlay itself is oracled separately
by ``ctc_rules``.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from .ctc import CTCArtifact

# -- shared token-universe predicate (Spark `rlike`/DuckDB `regexp_matches`
#    are both unanchored searches; the pattern uses only constructs with
#    identical semantics in Java regex, RE2, and Python re) ----------------- #


def _url_core_pattern() -> str:
    """RE2-safe SUPERSET of the reference URL regex's dotted-TLD start
    (sotok._url_start2): ``\\b`` and the optional trailing cc-TLD group are
    dropped (both only narrow a match), and the ``(?=\\W|$)`` lookahead is
    replaced by its consuming equivalent — sound because the dropped
    optional group always begins with '.', itself a non-word char, so any
    real match still ends at a non-word-or-$ boundary here.  The consuming
    boundary keeps dotted code identifiers ("np.sum" ends in a word char
    after the ".su" ccTLD) inside the oracle universe."""
    from .sotok import _any_of, _cc_tlds, _common_tlds
    return (r"[A-Za-z\d-]+(?:\.[A-Za-z0-9]+){0,3}\."
            + _any_of(_common_tlds, _cc_tlds)
            + r"(?:[^A-Za-z0-9_]|$)")


ASCII_PATTERN = "^[!-~]+$"


def universe_where() -> str:
    """SQL predicate on ``token`` for the oracled token universe (valid in
    both Spark SQL and DuckDB)."""
    core = _url_core_pattern().replace("'", "''")
    return (
        "token <> '' "
        f"and regexp_matches(token, '{ASCII_PATTERN}') "
        "and not contains(token, ':') "
        "and not contains(token, '/') "
        "and not contains(token, 'www') "
        "and not contains(token, '^') "
        "and not contains(token, '$') "
        f"and not regexp_matches(token, '{core}')"
    )


# -- parquet sidecars ------------------------------------------------------- #


def write_sidecars(art: "CTCArtifact", dirpath: str) -> dict:
    """Write the fitted artifact's parameters as parquet tables; returns
    the scalar constants the SQL inlines as literals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(dirpath, name + ".parquet"))

    tri_lm, tri_ctx, tri_ch, tri_cnt = [], [], [], []
    tot_lm, tot_ctx, tot_n = [], [], []
    for lm_name, lm in (("gen", art.char_lm_general),
                        ("dom", art.char_lm_domain)):
        for ctx, bucket in lm.counts.items():
            tot_lm.append(lm_name)
            tot_ctx.append(ctx)
            tot_n.append(lm._totals[ctx])
            for ch, n in bucket.items():
                tri_lm.append(lm_name)
                tri_ctx.append(ctx)
                tri_ch.append(ch)
                tri_cnt.append(n)
    write("tri", {"lm": tri_lm, "ctx": tri_ctx, "ch": tri_ch, "cnt": tri_cnt})
    write("tri_tot", {"lm": tot_lm, "ctx": tot_ctx, "tot": tot_n})

    uni_lm, uni_w, uni_n = [], [], []
    for lm_name, lm in (("gen", art.word_lm_general),
                        ("dom", art.word_lm_domain)):
        for w, n in lm.counts.items():
            uni_lm.append(lm_name)
            uni_w.append(w)
            uni_n.append(n)
    write("uni", {"lm": uni_lm, "word": uni_w, "cnt": uni_n})

    bf, bb, bc = [], [], []
    for feat in range(art.N_FEATURES):
        for b_idx, center in enumerate(art.binner.bin_values[feat]):
            bf.append(feat)
            bb.append(b_idx)
            bc.append(float(center))
    write("bins", {"feat": bf, "bin_idx": bb, "center": bc})

    m = art.model
    i1, j1, v1 = [], [], []
    for i in range(m.w1.shape[0]):
        for j in range(m.w1.shape[1]):
            i1.append(i)
            j1.append(j)
            v1.append(float(m.w1[i, j]))
    write("w1", {"i": i1, "j": j1, "v": v1})
    i2, j2, v2 = [], [], []
    for i in range(m.w2.shape[0]):
        for j in range(m.w2.shape[1]):
            i2.append(i)
            j2.append(j)
            v2.append(float(m.w2[i, j]))
    write("w2", {"i": i2, "j": j2, "v": v2})
    write("b1", {"j": list(range(len(m.b1))), "v": [float(x) for x in m.b1]})

    return {
        "v_char_gen": art.char_lm_general.v,
        "v_char_dom": art.char_lm_domain.v,
        "v_word_gen": art.word_lm_general.v,
        "tot_word_gen": art.word_lm_general.total,
        "v_word_dom": art.word_lm_domain.v,
        "tot_word_dom": art.word_lm_domain.total,
        "sigma": [float(s) for s in art.binner.sigmas],
        "b2": [float(x) for x in m.b2],
        "hidden": m.w1.shape[1],
        "embed_dim": m.w2.shape[0] - m.w1.shape[1],
    }


# -- SQL generation --------------------------------------------------------- #


def _char_lm_score(tok_expr: str, lm: str, v: int) -> str:
    """Sum of add-one-smoothed trigram log10 probs for one char LM.
    The lateral trigram expansion materializes in an inner subquery first
    (DuckDB rejects LEFT JOINs directly onto correlated laterals)."""
    return f"""
    select g.token,
           sum(log10((coalesce(tr.cnt, 0) + 1)
                     / (coalesce(tt.tot, 0) + {v}))) as score
    from (
        select t.token,
               substring('^^' || t.s || '$', u.i, 2) as ctx,
               substring('^^' || t.s || '$', u.i + 2, 1) as ch
        from (select token, {tok_expr} as s from toks) t,
             unnest(generate_series(1, length(t.s) + 1)) as u(i)) g
    left join tri_tot tt on tt.lm = '{lm}' and tt.ctx = g.ctx
    left join tri tr
      on tr.lm = '{lm}' and tr.ctx = g.ctx and tr.ch = g.ch
    group by g.token"""


def ctc_oracle_sql(dirpath: str, consts: dict, tokens_cte: str,
                   limit: int = 240) -> str:
    """Full DuckDB replay of CTCArtifact.predict over ``tokens_cte``
    (a CTE body yielding a ``token`` column). Deterministic md5-ordered
    ``limit`` keeps the 510x300 weight join bounded."""
    d = dirpath
    sig = consts["sigma"]
    # ::DOUBLE on every float literal — DuckDB types bare numeric literals
    # as DECIMAL, and decimal multiplication overflows at 38 digits
    sigma_vals = ", ".join(f"({i}, {s!r}::DOUBLE)" for i, s in enumerate(sig))
    b2 = consts["b2"]
    H = consts["hidden"]
    fnv = ("list_reduce(list_prepend(2166136261::BIGINT, "
           "list_transform(string_split(g.gram, ''), "
           "x -> unicode(x)::BIGINT)), "
           "(acc, c) -> (xor(acc, c) * 16777619) % 4294967296)")
    return f"""
with raw_toks as ({tokens_cte}),
toks as (
    select token from (select distinct token from raw_toks
                       where {universe_where()})
    order by md5(token) limit {limit}),
tri as (select * from read_parquet('{d}/tri.parquet')),
tri_tot as (select * from read_parquet('{d}/tri_tot.parquet')),
uni as (select * from read_parquet('{d}/uni.parquet')),
bins as (select * from read_parquet('{d}/bins.parquet')),
w1 as (select * from read_parquet('{d}/w1.parquet')),
w2 as (select * from read_parquet('{d}/w2.parquet')),
b1 as (select * from read_parquet('{d}/b1.parquet')),
sigma(feat, sig) as (values {sigma_vals}),
char_gen as ({_char_lm_score('lower(token)', 'gen', consts['v_char_gen'])}),
char_dom as ({_char_lm_score('token', 'dom', consts['v_char_dom'])}),
word_gen as (
    select t.token,
           log10((coalesce(u.cnt, 0) + 1.0)
                 / ({consts['tot_word_gen']} + {consts['v_word_gen']})) as score
    from toks t left join uni u on u.lm = 'gen' and u.word = lower(t.token)),
word_dom as (
    select t.token,
           log10((coalesce(u.cnt, 0) + 1.0)
                 / ({consts['tot_word_dom']} + {consts['v_word_dom']})) as score
    from toks t left join uni u on u.lm = 'dom' and u.word = lower(t.token)),
feats(token, feat, f) as (
    select token, 0, score from char_gen
    union all select token, 1, score from word_gen
    union all select token, 2, score from char_dom
    union all select token, 3, score from word_dom
    union all select token, 4,
        case when starts_with(token, 'http') then 1.0 else 0.0 end from toks),
proj as (
    select f.token, f.feat, b.bin_idx,
           exp(-((f.f - b.center) * (f.f - b.center))
               / (2.0 * s.sig * s.sig)) as p
    from feats f join bins b on b.feat = f.feat
    join sigma s on s.feat = f.feat),
binned as (
    select token, feat * 102 + bin_idx as i,
           case when sum(p) over (partition by token, feat) = 0 then 0.0
                else p / sum(p) over (partition by token, feat) end as x
    from proj),
hid as (
    -- tanh(z) = 1 - 2/(exp(2z)+1): DuckDB 1.0 ships no tanh; the identity
    -- saturates to +-1 exactly where numpy's tanh does
    select bn.token, w1.j,
           1.0 - 2.0 / (exp(2.0 * (any_value(b1.v) + sum(bn.x * w1.v))) + 1.0)
               as h
    from binned bn join w1 on w1.i = bn.i
    join b1 on b1.j = w1.j
    group by bn.token, w1.j),
grams as (
    select t.token, n.n, u.i,
           substring('<' || t.token || '>', u.i, n.n) as gram
    from toks t, (values (3), (4)) as n(n),
         unnest(generate_series(
             1, greatest(length(t.token) + 2 - n.n + 1, 1))) as u(i)),
gram_hash as (
    select g.token, {fnv} as h from grams g),
emb_raw as (
    select token, h % {consts['embed_dim']} as dim,
           sum(case when (h // 65536) % 2 = 1 then 1.0 else -1.0 end) as e
    from gram_hash group by token, dim),
emb as (
    select token, dim,
           case when sqrt(sum(e * e) over (partition by token)) > 0
                then e / sqrt(sum(e * e) over (partition by token))
                else e end as e
    from emb_raw),
logits as (
    select hl.token, hl.j as k, hsum + esum as logit
    from (
      select h.token, w2h.j,
             sum(h.h * w2h.v) as hsum
      from hid h join w2 w2h on w2h.i = h.j and w2h.i < {H}
      group by h.token, w2h.j) hl
    join (
      select t.token, w2e.j,
             coalesce(sum(e.e * w2e.v), 0.0)
             + (case when w2e.j = 0 then {b2[0]!r}::DOUBLE
                     else {b2[1]!r}::DOUBLE end) as esum
      from toks t
      cross join (select distinct j from w2) w2j
      join w2 w2e on w2e.j = w2j.j and w2e.i >= {H}
      left join emb e on e.token = t.token and e.dim = w2e.i - {H}
      group by t.token, w2e.j) el
    on el.token = hl.token and el.j = hl.j),
mlp as (
    select l0.token,
           case when l1.logit > l0.logit then 1 else 0 end as pred
    from (select token, logit from logits where k = 0) l0
    join (select token, logit from logits where k = 1) l1
    on l0.token = l1.token)
select t.token,
       cast(case when regexp_matches(
              replace(replace(replace(t.token, '.', ''), '-', ''), '+', ''),
              '^[0-9]+$') then 1
            else m.pred end as bigint) as ctc
from toks t join mlp m on m.token = t.token
"""
