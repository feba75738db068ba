"""PII detection and scrubbing for training-data pipelines.

The standard pre-training redaction pass (public pipelines: CCNet-style
cleaning, Dolma's PII masking, RedPajama's quality signals): detect
emails / IPv4 addresses / phone numbers and replace them with typed
sentinel tokens so models never memorize contact data. Not a
reference-repo operator; part of this engine's training-data surface
alongside operators/decontam.py and operators/textstats.py.

Every pattern is written in the regex dialect intersection of Java
(Spark) and RE2 (DuckDB/Go): no lookbehind, no backreferences, plain
character classes — so each count and each scrubbed string is bitwise
oracle-checkable cross-engine (gated in tests/test_pii.py with the
driver's own strict compare).

Scale shape at 100 TB: pure column expressions (regexp_count /
regexp_replace) inside whole-stage codegen — scan-bound, zero shuffle,
zero Python. Scrub order is fixed (email -> ipv4 -> phone) so a token
consumed by an earlier category can't double-match a later one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# dialect-intersection patterns (Java regex == RE2 semantics for these:
# greedy, non-overlapping, leftmost scan)
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"

# (column suffix, pattern, sentinel) in scrub order
PII_PATTERNS = [
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ipv4", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
]


def with_pii_counts(df: DataFrame) -> DataFrame:
    """Per-document match counts per PII category plus the total.

    Counts are taken on the PROGRESSIVELY SCRUBBED text (same order as
    ``scrub_pii``) so the per-category numbers partition the matches: an
    IPv4-looking fragment inside an already-replaced email is not counted
    twice. Adds ``pii_email``/``pii_ipv4``/``pii_phone``/``pii_total``.
    """
    t = F.col("text")
    out = df
    total = F.lit(0)
    for name, pat, sentinel in PII_PATTERNS:
        cnt = F.regexp_count(t, F.lit(pat)).cast("long")
        out = out.withColumn(f"pii_{name}", cnt)
        total = total + cnt
        t = F.regexp_replace(t, pat, sentinel)
    return out.withColumn("pii_total", total.cast("long"))


def scrub_pii(df: DataFrame, out_col: str | None = None) -> DataFrame:
    """Replace each PII category with its typed sentinel token, in the
    fixed category order. Writes ``out_col`` (default: in place)."""
    t = F.col("text")
    for _, pat, sentinel in PII_PATTERNS:
        t = F.regexp_replace(t, pat, sentinel)
    return df.withColumn(out_col or "text", t)


def duckdb_mirror_sql(table: str = "docs") -> str:
    """The DuckDB restatement of ``with_pii_counts`` + ``scrub_pii`` for
    the cross-engine gate: identical patterns, identical scrub order,
    counts on the progressively scrubbed text."""
    t = "text"
    counts = []
    for name, pat, sentinel in PII_PATTERNS:
        # each count runs on the text as scrubbed by the EARLIER categories
        counts.append(
            f"cast(len(regexp_extract_all({t}, '{pat}')) as bigint)"
            f" as pii_{name}")
        t = f"regexp_replace({t}, '{pat}', '{sentinel}', 'g')"
    total = " + ".join(f"pii_{n}" for n, _, _ in PII_PATTERNS)
    inner = ", ".join(["doc_id"] + counts + [f"{t} as scrubbed"])
    return ("select doc_id, pii_email, pii_ipv4, pii_phone, "
            f"cast({total} as bigint) as pii_total, scrubbed "
            f"from (select {inner} from {table})")
