"""Triple materialization, partitioned by subject hash.

North-rule sink (SURVEY.md §2.8 / S8): linked mentions ->
``triples(subj, pred, obj, url, part_hash)`` with
``part_hash = pmod(xxhash64(subj), n_buckets)``. Writing is partitioned by
``part_hash`` so downstream subject lookups prune partitions and the write
itself spreads head subjects deterministically.

Predicates:
  instance_of   canonical -> entity type        (deduplicated)
  mentioned_in  canonical -> url                (per page)
  alias_of      surface form -> canonical       (deduplicated)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BASE = "https://kg.example/"  # IRI prefix of the N-Triples export


def triples_from_linked(linked: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Evidence-level triples: every row keeps its source url, deduplicated
    on (subj, pred, obj, url). This keeps the stage idempotent per
    url-bucket, which is what makes bucket-granular resume safe
    (plans/pipeline.py); logical triples are its distinct (subj, pred, obj).

    The three predicates are emitted via ONE generator, not a union of
    three projections: a union would make Catalyst re-execute the upstream
    Python kernel once per branch (no subplan CSE across union arms — seen
    live in PLANS.md §1 before this rewrite, a 3x kernel recompute).

    The plan is built from SQL strings: each ``functions``/``Column`` call
    is several py4j round trips on the driver, and this builder runs once
    per op."""
    arms = ", ".join(
        f"named_struct('subj', {s}, 'pred', '{p}', 'obj', {o}, 'url', url)"
        for s, p, o in (("canonical_id", "instance_of", "entity_type"),
                        ("canonical_id", "mentioned_in", "url"),
                        ("surface_norm", "alias_of", "canonical_id")))
    return linked.selectExpr(f"inline(array({arms}))").distinct().selectExpr(
        "subj", "pred", "obj", "url",
        f"CAST(pmod(xxhash64(subj), {int(n_buckets)}) AS INT) AS part_hash")


def write_triples_sorted(triples: DataFrame, path: str,
                         block_size: int | None = None) -> None:
    """Subject-clustered layout: same partitioning, plus
    ``sortWithinPartitions(part_hash, subj, pred)`` before the write.

    Leading with the partition column means the file writer's required
    ordering is already satisfied, so the (subj, pred) order survives
    into the files verbatim: each parquet row group then covers a narrow
    subject range and its min/max statistics let ANY reader (Spark
    row-group skipping, DuckDB zone maps, Iceberg metrics) discard row
    groups a subject-literal probe cannot hit. At 10^12 triples this is
    the difference between a subject lookup scanning one partition
    (hash pruning alone) and scanning ~one row group — the same data,
    one extra sort at write time, no extra shuffle beyond the
    partitioning exchange the plain writer needs anyway.

    ``block_size`` (bytes) caps the parquet row-group size — tests use a
    small value to get many row groups from small fixtures; production
    leaves the 128 MB default.
    """
    w = (triples.repartition("part_hash")
         .sortWithinPartitions("part_hash", "subj", "pred")
         .write.mode("overwrite"))
    if block_size is not None:
        w = w.option("parquet.block.size", str(block_size))
    w.partitionBy("part_hash").parquet(path)


def _esc_literal(col: F.Column) -> F.Column:
    """N-Triples string-literal escaping: backslash first, then quote,
    newline, carriage return, tab (the grammar's required escapes)."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


def _esc_iri(col: F.Column) -> F.Column:
    """Percent-encode the characters N-Triples forbids inside <IRI>s
    (space, quote, angle brackets, backslash, braces, pipe, caret,
    backtick — RFC 3987's excluded set; '%' first so encodings don't
    double-encode). KG ids here are ASCII tokens/urls, so this bounded
    table is the whole job; a general-purpose exporter would
    percent-encode all non-IRI octets the same way."""
    out = F.replace(col, F.lit("%"), F.lit("%25"))
    for ch, enc in ((" ", "%20"), ('"', "%22"), ("<", "%3C"),
                    (">", "%3E"), ("\\", "%5C"), ("{", "%7B"),
                    ("}", "%7D"), ("|", "%7C"), ("^", "%5E"),
                    ("`", "%60")):
        out = F.replace(out, F.lit(ch), F.lit(enc))
    return out


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """(line): the KG as RDF N-Triples — the standard interchange format
    a KG product must export. Subjects and alias/canonical objects
    become ``<{_BASE}ent/...>`` IRIs, predicates ``<{_BASE}pred/...>``,
    ``mentioned_in`` objects are page IRIs as-is, and ``instance_of``
    objects are string literals. Pure column expressions (one scan, no
    shuffle beyond the upstream distinct); write with
    ``df.write.text(path)``."""
    ent = lambda c: F.concat(F.lit("<" + _BASE + "ent/"),
                             _esc_iri(c), F.lit(">"))
    obj = (F.when(F.col("pred") == "instance_of",
                  F.concat(F.lit('"'), _esc_literal(F.col("obj")),
                           F.lit('"')))
           .when(F.col("pred") == "mentioned_in",
                 F.concat(F.lit("<"), _esc_iri(F.col("obj")), F.lit(">")))
           .otherwise(ent(F.col("obj"))))
    line = F.concat(
        ent(F.col("subj")), F.lit(" "),
        F.lit("<" + _BASE + "pred/"), F.col("pred"), F.lit("> "),
        obj, F.lit(" ."))
    return (triples.select("subj", "pred", "obj").distinct()
            .select(line.alias("line")))


def _unesc_literal(col: F.Column) -> F.Column:
    """Inverse of ``_esc_literal``. Sequential replace cannot unescape
    backslash escapes directly (``\\\\n`` — an escaped backslash before
    an 'n' — must NOT become a newline), so escaped backslashes park on
    a NUL sentinel first: NUL can never appear in the escaped text
    because the N-Triples grammar forbids raw control characters in
    literals (and the exporter never emits one)."""
    out = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    out = F.replace(out, F.lit("\\r"), F.lit("\r"))
    out = F.replace(out, F.lit("\\t"), F.lit("\t"))
    out = F.replace(out, F.lit('\\"'), F.lit('"'))
    return F.replace(out, F.lit("\x00"), F.lit("\\"))


def _unesc_iri(col: F.Column) -> F.Column:
    """Inverse of ``_esc_iri``: decode the bounded percent table,
    ``%25`` LAST so original percent signs don't double-decode."""
    out = col
    for ch, enc in ((" ", "%20"), ('"', "%22"), ("<", "%3C"),
                    (">", "%3E"), ("\\", "%5C"), ("{", "%7B"),
                    ("}", "%7D"), ("|", "%7C"), ("^", "%5E"),
                    ("`", "%60")):
        out = F.replace(out, F.lit(enc), F.lit(ch))
    return F.replace(out, F.lit("%25"), F.lit("%"))


def parse_ntriples(lines: DataFrame) -> DataFrame:
    """(line) -> (subj, pred, obj): parse N-Triples text back into the
    engine's triple schema — the read side of ``ntriples_lines``, so an
    exported KG round-trips losslessly (gated byte-exact in tests) and
    external N-Triples dumps in the exporter's profile load directly.
    Read the text with ``spark.read.text(path)`` (one splittable scan;
    N-Triples is line-delimited, the format property that makes it THE
    scale-friendly RDF serialization) and pass the DataFrame here.

    Pure column expressions — one regexp per term plus bounded
    replace chains (JVM-side, whole-stage codegen; no Python in the
    row path). Lines that do not match the grammar (comments, blank
    lines, malformed rows) are dropped, the standard lenient-reader
    contract. ``{_BASE}ent/`` / ``{_BASE}pred/`` IRI prefixes are
    stripped back to bare ids; other IRIs (page urls of
    ``mentioned_in`` objects) keep their full text; quoted objects
    become plain strings (datatype/langtag-free literals, the
    exporter's profile)."""
    raw = lines.select(F.col("value").alias("line"))
    # <s> <p> obj .  — obj may contain spaces (quoted literal) or be
    # an IRI; the terminating " ." anchors the object span
    pat = r'^<([^>]*)> <([^>]*)> (.*) \.\s*$'
    parts = (raw
             .select(F.regexp_extract("line", pat, 1).alias("s_iri"),
                     F.regexp_extract("line", pat, 2).alias("p_iri"),
                     F.regexp_extract("line", pat, 3).alias("o_raw"))
             .filter((F.col("s_iri") != "") & (F.col("p_iri") != "")
                     & (F.col("o_raw") != "")))
    ent_pfx, pred_pfx = _BASE + "ent/", _BASE + "pred/"
    strip = lambda c, p: F.when(  # noqa: E731
        c.startswith(p), F.substring(c, len(p) + 1, 1 << 20)).otherwise(c)
    is_lit = F.col("o_raw").rlike(r'^".*"$')
    is_iri = F.col("o_raw").rlike(r'^<[^>]*>$')
    o_iri = _unesc_iri(F.regexp_extract("o_raw", r'^<([^>]*)>$', 1))
    obj = (F.when(is_lit, _unesc_literal(
               F.regexp_extract("o_raw", r'^"(.*)"$', 1)))
           .when(is_iri, strip(o_iri, ent_pfx)))
    return (parts.filter(is_lit | is_iri)
            .select(strip(_unesc_iri(F.col("s_iri")), ent_pfx)
                    .alias("subj"),
                    strip(_unesc_iri(F.col("p_iri")), pred_pfx)
                    .alias("pred"),
                    obj.alias("obj")))
