"""Incremental KG update: re-extract only the pages a new crawl snapshot
actually changed, and prove the result equals a full recompute.

At 10^12 documents a recrawl touches a small fraction of urls; rerunning
the whole extraction pipeline is the single most expensive mistake an
operator of this engine could make. The composition here keeps the cost
O(delta):

    delta   = snapshot_delta(fingerprints(A), fingerprints(B))   # 1 join
    work    = changed_or_added(delta, B)        # left-semi, O(delta) pages
    carried = triples_A semi-joined to delta's unchanged urls    # 1 join
    result  = carried UNION rebuild(work)       # kernel runs on delta only

Correctness rests on one property the flagship pipeline has by
construction: triple emission is PER-PAGE deterministic (extraction,
tagging, document-level consistency, and broadcast-dictionary linking all
operate within a page; the evidence-level triple table is keyed by url).
Under that property, incremental == full recompute EXACTLY — gated on
real synthetic crawls in tests/test_incremental_kg.py, including removed,
changed, added and unchanged pages.

Pipelines that add cross-document canonicalization (the optional
``components`` argument of triples_from_linked) break the per-page
property; there, run this update on the evidence-level table and re-derive
components over the merged result — components are a triple-level
aggregation, still O(triples), never O(corpus-kernel).

Fingerprints cover exactly the columns the kernel consumes (html + lang by
default): a metadata-only recrawl (new warc_ts, same bytes) is
"unchanged" and costs nothing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .crawldiff import changed_or_added, snapshot_delta

FP_COLS = ("html", "lang")


def fingerprint_pages(pages: DataFrame) -> DataFrame:
    """(url, fp) with fp = md5 over the concatenated kernel-input columns.
    String columns are utf-8 encoded so binary and string inputs mix;
    a length prefix per column keeps the concatenation injective."""
    parts = []
    for c in FP_COLS:
        col = F.col(c)
        if pages.schema[c].dataType.typeName() != "binary":
            col = F.encode(col.cast("string"), "UTF-8")
        parts.append(F.encode(F.length(F.col(c)).cast("string"), "UTF-8"))
        parts.append(col)
    return pages.select("url", F.md5(F.concat(*parts)).alias("fp"))


def page_delta(pages_a: DataFrame, pages_b: DataFrame) -> DataFrame:
    """snapshot_delta over page fingerprints (url-keyed)."""
    return snapshot_delta(fingerprint_pages(pages_a),
                          fingerprint_pages(pages_b),
                          ["url"], "fp")


def incremental_update(pages_a: DataFrame, pages_b: DataFrame,
                       triples_a: DataFrame,
                       rebuild_fn: Callable[[DataFrame], DataFrame],
                       delta: DataFrame | None = None) -> DataFrame:
    """Triples for snapshot B, given snapshot A's pages and triples.

    ``rebuild_fn`` is the per-page-deterministic pages->triples pipeline
    (e.g. ``KGPipeline(...).run_fused``); it sees ONLY the changed+added
    pages. Returns the full snapshot-B triple table, bit-equal to
    ``rebuild_fn(pages_b)``. Pass a precomputed (and ideally persisted)
    ``page_delta`` result via ``delta`` to share the fingerprint pass with
    reporting.
    """
    if delta is None:
        delta = page_delta(pages_a, pages_b)
    work = changed_or_added(delta, pages_b, ["url"])
    keep = delta.filter(F.col("status") == "unchanged").select("url")
    # a USING join fronts the key column; restore the caller's order
    carried = (triples_a.join(keep, "url", "left_semi")
               .select(*triples_a.columns))
    fresh = rebuild_fn(work)
    return carried.unionByName(fresh.select(*carried.columns))
