"""URL canonicalization and the page-level web link graph.

The crawl-graph half of a web-scale KG pipeline: canonicalize page URLs
(the dedup key for a 10^12-document crawl) and reduce (src, dst) edges
to a distinct canonical link graph with host columns. The canonical
parts also feed ``operators/robots.py`` (host/path of each URL). Pulling
outlinks out of raw HTML is not implemented; the ``link_graph`` driver
entry derives its edges from the fixture.

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

Scale shape at 100 TB: canonicalization is a pure column expression
inside whole-stage codegen — scan-bound, zero Python, zero shuffle. The
only shuffle in the graph build is the ``distinct`` on (src, dst), keyed
on the canonical strings, i.e. O(edges).
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
    and ``operators/robots.py``."""
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


def canonicalize_url(url) -> Column:
    """Canonical form of a URL (NULL for non-http(s) / hostless input).
    Pure column expression; bitwise-identical to the DuckDB restatement
    in ``__spark_entry__.oracle_sql()['link_graph']``."""
    p = canonical_parts(url)
    origin = F.concat(
        p["scheme"], F.lit("://"), p["host"],
        F.when(p["port"] == "", F.lit("")).otherwise(
            F.concat(F.lit(":"), p["port"])))
    assembled = F.concat(
        origin, p["path"],
        F.when(p["query"] == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), p["query"])))
    return F.when(p["valid"], assembled).otherwise(F.lit(None))


def host_of(url) -> Column:
    """host[:port] of an (already canonical) URL."""
    return F.regexp_extract(_col(url), _HOSTPORT_RE, 1)


def link_graph(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst) canonical edge list with host columns —
    the page-level web graph. One shuffle (the distinct)."""
    e = (edges.select("src", "dst").distinct()
         .filter(F.col("src") != F.col("dst")))
    return e.select(
        "src", "dst",
        host_of("src").alias("src_host"),
        host_of("dst").alias("dst_host"))
