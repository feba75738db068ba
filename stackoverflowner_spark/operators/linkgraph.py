"""URL canonicalization and web link-graph extraction.

The crawl-graph half of a web-scale KG pipeline: canonicalize page URLs
(the dedup key for a 10^12-document crawl), pull outlinks out of raw
HTML, resolve them against the page URL, and aggregate the result into
page- and host-level link graphs. The host graph feeds
``operators/pagerank.py`` directly (crawl-frontier prioritization /
host authority), the canonical-URL column feeds ``operators/dedup.py``
(URL-exact dedup before any content pass) and
``operators/crawldiff.py`` (snapshot keys).

Reference parity note: the reference (jeniyat/StackOverflowNER) has no
crawl/link analytics — this is engine-beyond-reference surface in the
same family as operators/pagerank.py and operators/crawldiff.py,
motivated by BASELINE.json's Common-Crawl-style input
(url, warc_ts, html, text, lang).

Canonicalization policy (each step a pure column expression, dialect-
intersection with DuckDB so the whole thing is bitwise oracle-checkable
cross-engine — same discipline as operators/pii.py):

1. trim; cut at the first ``#`` (fragment).
2. scheme lowercased; only ``http``/``https`` survive (else NULL — the
   operator is a crawl canonicalizer, not a general URI parser).
3. host lowercased, trailing dots stripped; default ports (80/http,
   443/https) dropped, any other explicit port kept.
4. path: runs of ``/`` collapsed to one, trailing slashes stripped
   (empty path -> ``/``).
5. query: split on ``&``; empty params and tracking params dropped
   (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``, ``ref``); the rest
   SORTED bytewise so param order never splits a dedup key; empty
   query -> no ``?``.

Scale shape at 100 TB: canonicalization and href extraction are pure
column expressions inside whole-stage codegen (an anchor's href and text
are pulled by a ``transform`` lambda, which Spark interprets) — scan-bound,
zero Python, zero shuffle. The only shuffles in the graph builds are the
``distinct`` on (src, dst) and the host-level groupBy — both keyed on
the canonical strings, i.e. O(edges), never O(pages x links^2). The
host graph is hosts^2-bounded (tiny next to the edge list) and is the
natural broadcast side for frontier joins downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query params that never affect content identity (CCNet-style cleaners
# and every public crawl dedup drop these)
TRACKING_PREFIXES = ("utm_",)
TRACKING_KEYS = ("fbclid", "gclid", "msclkid", "ref")

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _keep_param(x: Column) -> Column:
    keep = x != ""
    for p in TRACKING_PREFIXES:
        keep = keep & ~x.startswith(p)
    for k in TRACKING_KEYS:
        keep = keep & ~x.startswith(k + "=") & (x != k)
    return keep


def canonical_parts(url) -> dict[str, Column]:
    """The canonicalized components of a URL as named column expressions:
    ``scheme host port path query valid``. Shared by ``canonicalize_url``
    and the link resolver (which needs the origin and directory)."""
    u = F.trim(_col(url))
    # fragment off first — split_part semantics (before the first '#'),
    # no regex so '#' needs no escaping in either engine
    u = F.substring_index(u, "#", 1)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.regexp_extract(u, _HOSTPORT_RE, 1)
    host = F.regexp_replace(
        F.lower(F.substring_index(hostport, ":", 1)), r"\.+$", "")
    port0 = F.when(hostport.contains(":"),
                   F.substring_index(hostport, ":", -1)).otherwise(F.lit(""))
    port = F.when(
        (port0 == "")
        | ((scheme == "http") & (port0 == "80"))
        | ((scheme == "https") & (port0 == "443")),
        F.lit("")).otherwise(port0)
    rest = F.regexp_replace(u, _HOSTPORT_RE, "")
    qpos = F.instr(rest, "?")
    path0 = F.when(qpos > 0, F.substr(rest, F.lit(1), qpos - 1)).otherwise(rest)
    query0 = F.when(qpos > 0, F.substr(rest, qpos + 1)).otherwise(F.lit(""))
    path1 = F.regexp_replace(
        F.regexp_replace(path0, "/{2,}", "/"), "/+$", "")
    path = F.when(path1 == "", F.lit("/")).otherwise(path1)
    query = F.array_join(
        F.array_sort(F.filter(F.split(query0, "&"), _keep_param)), "&")
    valid = scheme.isin("http", "https") & (host != "")
    return {"scheme": scheme, "host": host, "port": port,
            "path": path, "query": query, "valid": valid}


def _origin(p: dict[str, Column]) -> Column:
    """``scheme://host[:port]`` of canonical parts."""
    return F.concat(
        p["scheme"], F.lit("://"), p["host"],
        F.when(p["port"] == "", F.lit("")).otherwise(
            F.concat(F.lit(":"), p["port"])))


def _assembled(p: dict[str, Column]) -> Column:
    """The canonical URL from its parts; NULL unless ``valid``."""
    assembled = F.concat(
        _origin(p), p["path"],
        F.when(p["query"] == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), p["query"])))
    return F.when(p["valid"], assembled).otherwise(F.lit(None))


def canonicalize_url(url) -> Column:
    """Canonical form of a URL (NULL for non-http(s) / hostless input).
    Pure column expression; bitwise-identical to the DuckDB restatement
    in ``__spark_entry__.oracle_sql()['link_graph']``."""
    return _assembled(canonical_parts(url))


def _staged(df: DataFrame, url, prefix: str) -> tuple[DataFrame, dict]:
    """``df`` plus the canonical parts of ``url`` as columns named
    ``prefix + part``, and those columns. Expressions built on staged
    parts read each one as a column; built on ``canonical_parts`` of a
    resolved href, which is itself built on the page URL's parts, the
    ``CaseWhen`` trees nest into each other, and Catalyst spends tens of
    seconds optimizing them even for a handful of rows."""
    parts = canonical_parts(url)
    return (df.select("*", *[c.alias(prefix + k) for k, c in parts.items()]),
            {k: F.col(prefix + k) for k in parts})


def host_of(url) -> Column:
    """host[:port] of an (already canonical) URL."""
    return F.regexp_extract(_col(url), _HOSTPORT_RE, 1)


# --------------------------------------------------------------------------- #
# href extraction + relative resolution (pytest-gated planted specimens:
# the driver's synthetic documents carry no HTML, so an oracle here would
# be vacuous — same reasoning as operators/pii.py)
# --------------------------------------------------------------------------- #

_SKIP_SCHEMES = ("javascript:", "mailto:", "data:", "tel:")


def extract_hrefs(html) -> Column:
    """Array of raw href values (double- then single-quoted attributes).
    Unquoted hrefs are out of scope (vanishingly rare in real crawls and
    ambiguous to terminate without an HTML parser)."""
    h = _col(html)
    return F.concat(
        F.regexp_extract_all(h, F.lit(r'href\s*=\s*"([^"]*)"'), 1),
        F.regexp_extract_all(h, F.lit(r"href\s*=\s*'([^']*)'"), 1))


def _explode_links(pages: DataFrame, url_col: str, links: Column
                   ) -> tuple[DataFrame, dict]:
    """One row per generated link of each page with a valid URL:
    ``src`` (the canonical page URL), the ``links`` generator's columns,
    and the page URL's staged parts, which are also returned."""
    pages, b = _staged(pages, url_col, "_b_")
    return (pages.filter(b["valid"]).select(
        _assembled(b).alias("src"), *b.values(), links), b)


def _resolved(links: DataFrame, raw: str, b: dict, keep: list[str]
              ) -> DataFrame:
    """``keep`` plus ``dst``: the href column ``raw`` resolved against the
    page whose canonical parts are ``b``, then canonicalized. Rows whose
    href does not resolve (fragments, empty hrefs, non-web schemes,
    invalid targets) are dropped.

    ``dst`` comes out of a generator, ``explode(array_compact(array(x)))``,
    which drops a NULL without a Filter. Catalyst would push a filter on
    ``dst`` (this one, or the caller's, like ``link_graph``'s
    ``src != dst``) below the projections and inline every stage into it."""
    r = F.trim(F.col(raw))
    lr = F.lower(r)
    origin = _origin(b)
    # directory of the base path, with its trailing '/'
    base_dir = F.regexp_replace(b["path"], "[^/]*$", "")
    skip = (r == "") | r.startswith("#")
    for s in _SKIP_SCHEMES:
        skip = skip | lr.startswith(s)
    absolute = F.when(
        lr.startswith("http://") | lr.startswith("https://"), r
    ).when(r.startswith("//"), F.concat(b["scheme"], F.lit(":"), r)
    ).when(r.startswith("/"), F.concat(origin, r)
    ).otherwise(F.concat(origin, base_dir, r))
    df = links.filter(~skip).select(*keep, absolute.alias("_abs"))
    df, a = _staged(df, "_abs", "_a_")
    return df.select(*keep, F.explode(F.array_compact(F.array(
        _assembled(a)))).alias("dst"))


def page_links(pages: DataFrame, url_col: str = "url",
               html_col: str = "html") -> DataFrame:
    """pages(url, html) -> one row per (page, outlink): (src, dst), both
    canonical, fragments/scripts/invalid links dropped. Pure columnar:
    regexp_extract_all + explode, no Python."""
    links, b = _explode_links(
        pages, url_col, F.explode(extract_hrefs(html_col)).alias("_raw"))
    return _resolved(links, "_raw", b, ["src"])


def link_graph(edges: DataFrame, drop_self: bool = True) -> DataFrame:
    """Distinct (src, dst) canonical edge list with host columns —
    the page-level web graph. One shuffle (the distinct)."""
    e = edges.select("src", "dst").distinct()
    if drop_self:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.select(
        "src", "dst",
        host_of("src").alias("src_host"),
        host_of("dst").alias("dst_host"))


def extract_anchors(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """pages(url, html) -> (src, dst, anchor): one row per <a> element
    with both a resolvable href and flat inner text. Anchors whose inner
    text contains markup are skipped (an HTML parser's job, not a
    regex's — documented limitation; hrefs themselves are still captured
    by ``page_links``). Anchor text is normalized: lowercased,
    whitespace-collapsed, trimmed. Pure columnar."""
    els = F.regexp_extract_all(_col(html_col),
                               F.lit(r"<a\s[^>]*>[^<]*</a>"), 0)

    def href_and_anchor(el):
        return F.struct(
            F.coalesce(
                F.nullif(F.regexp_extract(
                    el, r'href\s*=\s*"([^"]*)"', 1), F.lit("")),
                F.nullif(F.regexp_extract(
                    el, r"href\s*=\s*'([^']*)'", 1), F.lit(""))
            ).alias("_href"),
            F.trim(F.regexp_replace(
                F.lower(F.regexp_extract(el, r">([^<]*)</a>", 1)),
                r"\s+", " ")).alias("anchor"))

    links, b = _explode_links(
        pages, url_col, F.inline(F.transform(els, href_and_anchor)))
    return _resolved(links.filter(F.col("anchor") != ""), "_href", b,
                     ["src", "anchor"]).select("src", "dst", "anchor")


# anchors that carry no entity signal (the classic web-nav stoplist)
ANCHOR_STOPLIST = ("click here", "here", "read more", "more", "link",
                   "home", "next", "previous", "this")


def anchor_dictionary(anchors: DataFrame,
                      stoplist: tuple[str, ...] = ANCHOR_STOPLIST,
                      min_weight: int = 1) -> DataFrame:
    """(alias_norm, dst, weight): how often each anchor surface form
    points at each target — the web-native alias table for entity
    linking (join ``dst`` to canonical ids and this IS the
    ``operators/link.py`` broadcast dictionary's (alias_norm,
    canonical_id) spine, weight = link evidence). One groupBy shuffle;
    output is alias-vocabulary-sized, i.e. the broadcast side
    downstream."""
    a = anchors.filter(~F.col("anchor").isin(*stoplist))
    return (a.groupBy(F.col("anchor").alias("alias_norm"), "dst")
            .agg(F.count("*").alias("weight"))
            .filter(F.col("weight") >= min_weight))


def incremental_link_graph(old_edges: DataFrame, pages_a: DataFrame,
                           pages_b: DataFrame, url_col: str = "url",
                           html_col: str = "html") -> DataFrame:
    """Crawl-over-crawl link-graph update: re-extract outlinks ONLY for
    pages the new crawl added or changed; carry unchanged pages' edges
    forward; drop removed/changed pages' old edges. Provably equals
    ``link_graph(page_links(pages_b))`` because edge emission is
    per-page deterministic (gated bit-equal in tests/test_linkgraph.py)
    — the link-graph twin of ``operators/incremental.py``.

    Scale shape: the delta is one full-outer join on url; the expensive
    regex extraction touches only the delta work-list, never the full
    crawl."""
    from stackoverflowner_spark.operators.crawldiff import (
        changed_or_added, snapshot_delta)
    fa = pages_a.select(url_col, F.md5(html_col).alias("fp"))
    fb = pages_b.select(url_col, F.md5(html_col).alias("fp"))
    delta = snapshot_delta(fa, fb, [url_col], "fp")
    todo = changed_or_added(delta, pages_b, [url_col])
    fresh = page_links(todo, url_col=url_col, html_col=html_col)
    keep_urls = (delta.filter(F.col("status") == "unchanged")
                 .select(canonicalize_url(url_col).alias("src")).distinct())
    carried = old_edges.join(keep_urls, "src", "left_semi")
    return link_graph(carried.unionByName(fresh))


def host_graph(edges: DataFrame, drop_intra: bool = True) -> DataFrame:
    """Host-level rollup of a page edge list: (src_host, dst_host,
    weight). hosts^2-bounded — the broadcastable frontier-priority input
    for ``operators/pagerank.py`` (columns renamed to (src, dst) feed
    ``pagerank`` unchanged)."""
    g = edges if "src_host" in edges.columns else link_graph(edges)
    if drop_intra:
        g = g.filter(F.col("src_host") != F.col("dst_host"))
    return (g.groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("weight")))
