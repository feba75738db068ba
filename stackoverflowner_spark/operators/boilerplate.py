"""Line-frequency boilerplate removal (CCNet-style).

Navigation bars, cookie banners, and footers repeat verbatim across a
site's pages; the standard web-corpus cleanup (CCNet's line-level dedup,
also RefinedWeb/C4 lineage) drops lines whose normalized hash appears in
more than a threshold fraction of the host's documents. Not a
reference-repo operator; part of this engine's training-data surface
beside operators/textstats.py (heuristic quality), operators/lmfilter.py
(LM quality), and operators/substrdedup.py (repeated substrings —
which catches *cross-host* template text; this operator is the cheap
per-host pass that removes the bulk of it first).

Decision rule, exact by construction: a line is boilerplate on its host
iff it occurs in at least ``min_docs`` documents AND in strictly more
than ``max_ratio_x10``/10 of the host's documents. The ratio compare is
integer cross-multiplication (``n_docs * 10 > max_ratio_x10 *
host_docs``) — no float division anywhere, so the whole keep/drop
decision and the reassembled text replay bitwise in any engine (the
``boilerplate`` driver entry hashes the cleaned text cross-engine).
Line identity = md5 of the lowercased, whitespace-collapsed, trimmed
line (raw bytes are preserved in the output); blank lines are dropped
from both the statistics and the reassembled text.

Scale shape at 100 TB: one scan explodes lines (O(total lines), the
problem's own size); ONE shuffle counts per-(host, line-hash) document
frequencies; per-host document totals are a hosts-sized aggregate that
rides a broadcast; the stats join back onto the exploded lines on
(host, line-hash) — a corpus-scale equi-join, same class as exact
dedup's hash-groupBy, AQE-splittable on template-heavy hosts — and one
groupBy(doc) reassembles. Three shuffles total, all keyed on
(host, line-hash) or doc_id, never all-pairs; nothing corpus-sized
reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LSTRUCT = "array<struct<line_no:int,keep:bigint,line:string>>"


def _norm(c):
    """Line-identity normalization: trim, collapse whitespace runs to
    one space, lowercase. Confined to the Java-regex ∩ RE2 dialect
    intersection (same discipline as operators/pii.py patterns)."""
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def doc_lines(docs: DataFrame) -> DataFrame:
    """docs(doc_id, host, text) -> one row per non-blank line:
    (doc_id, host, line_no, line, lhash). ``line`` keeps the raw bytes
    (reassembly is lossless for kept lines); ``lhash`` is the md5 of
    the normalized line — the engine-portable identity the frequency
    statistics key on."""
    return (docs
            .select("doc_id", "host",
                    F.posexplode(F.split(F.col("text"), "\n"))
                    .alias("line_no", "line"))
            .withColumn("_n", _norm(F.col("line")))
            .filter(F.col("_n") != "")
            .select("doc_id", "host", "line_no", "line",
                    F.md5("_n").alias("lhash")))


def host_doc_counts(docs: DataFrame) -> DataFrame:
    """(host, host_docs) — hosts-sized, the broadcast side of the
    ratio test."""
    return (docs.groupBy("host")
            .agg(F.count("*").alias("host_docs")))


def flag_lines(docs: DataFrame, min_docs: int = 2,
               max_ratio_x10: int = 3) -> DataFrame:
    """Exploded lines + ``keep`` (1/0). Boilerplate iff the line occurs
    in >= min_docs documents of its host AND in strictly more than
    max_ratio_x10/10 of them — integers only, so the flag is exact and
    cross-engine. min_docs keeps single-document hosts from deleting
    their own unique text (a 1-of-1 line is 100% of the host)."""
    if not 0 <= max_ratio_x10 <= 10:
        raise ValueError("max_ratio_x10 must be in [0, 10]")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (a 1-of-1 line is 100% "
                         "of its host)")
    from pyspark.sql import Window
    lines = doc_lines(docs)
    # per-line document frequency as a window pair over ONE shuffle of
    # the exploded lines (dense_rank-max == count distinct doc_id, the
    # sort-based form that spills instead of buffering a set): the old
    # groupBy + self-join computed and shuffled the line explode twice
    g = Window.partitionBy("host", "lhash")
    dr = F.dense_rank().over(g.orderBy("doc_id"))
    hd = host_doc_counts(docs)
    bp = ((F.col("n_docs") >= min_docs)
          & (F.col("n_docs") * 10 > max_ratio_x10 * F.col("host_docs")))
    return (lines
            .withColumn("_dr", dr)
            .withColumn("n_docs", F.max("_dr").over(g).cast("long"))
            .drop("_dr")
            .join(F.broadcast(hd), "host")
            .withColumn("keep", (~bp).cast("long")))


def remove_boilerplate(docs: DataFrame, min_docs: int = 2,
                       max_ratio_x10: int = 3) -> DataFrame:
    """(doc_id, host, n_lines, n_kept, clean_text): the document with
    its host-frequent lines removed. n_lines counts the document's
    non-blank lines; clean_text joins the kept raw lines in original
    order with a single newline (NULL when nothing survives — an
    all-template page — so downstream length/quality filters see it as
    empty, not as an empty string that hashes differently cross-engine).
    Documents whose text had no non-blank lines at all get
    n_lines = n_kept = 0 and NULL clean_text."""
    flagged = flag_lines(docs, min_docs=min_docs, max_ratio_x10=max_ratio_x10)
    ordered = F.array_sort(
        F.collect_list(F.struct("line_no", "keep", "line"))
    ).cast(_LSTRUCT)
    per = (flagged.groupBy("doc_id", "host")
           .agg(F.count("*").alias("n_lines"),
                F.sum("keep").alias("n_kept"),
                ordered.alias("_ls"))
           .withColumn(
               "clean_text",
               F.when(F.col("n_kept") == 0, F.lit(None).cast("string"))
               .otherwise(F.array_join(
                   F.transform(
                       F.filter("_ls", lambda s: s["keep"] == 1),
                       lambda s: s["line"]), "\n")))
           .drop("_ls"))
    return (docs.select("doc_id", "host")
            .join(per, ["doc_id", "host"], "left")
            .select("doc_id", "host",
                    F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    "clean_text"))
