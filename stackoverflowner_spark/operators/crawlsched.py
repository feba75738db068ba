"""Deterministic per-host crawl scheduling (politeness rate limiting).

The fetch-side companion to operators/robots.py: a crawl frontier must
spread each host's URLs over time at the host's politeness interval.
This assigns every (host, url) a SLOT (0, 1, 2, ...) and a fetch
timestamp ``start_us + slot * interval_us`` — a pure function of the
data (slot order = md5(url), so backfills, retries, and re-plans keep
identical schedules; no RNG, no wall clock).

Skew shape at 100 TB: a plain per-host ``row_number`` window puts every
URL of a mega-host in ONE task. Here the rank is two-pass: URLs rank
locally within (host, first-hex-digit-of-md5) — 16 salt buckets, each
~1/16 of the host — and bucket ranks lift to global host ranks by
adding the per-(host, bucket) counts of LOWER buckets (a host×16-row
aggregate, broadcast back). Because the salt is a PREFIX of the md5
sort key, bucket ranges are contiguous in the global order, so the
lifted ranks EQUAL the plain window's ranks exactly (gated in
tests/test_crawlsched.py) while no task ever sees more than a bucket.
The same prefix-offset discipline as prepare.partitioned_rank, applied
per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def crawl_schedule(urls: DataFrame, start_us: int = EPOCH_2024_US,
                   interval_us: int = 2_000_000) -> DataFrame:
    """(host, url, slot, fetch_us): slot = the url's rank in the host's
    md5(url) order (ties broken by the url string); fetch_us =
    start_us + slot * interval_us."""
    h = F.md5(F.col("url"))
    d = urls.select("host", "url",
                    h.alias("_h"),
                    F.conv(F.substring(h, 1, 1), 16, 10)
                    .cast("int").alias("_b"))
    wl = Window.partitionBy("host", "_b").orderBy("_h", "url")
    local = d.withColumn("_rn", F.row_number().over(wl))
    counts = (d.groupBy("host", "_b").agg(F.count("*").alias("_c")))
    woff = (Window.partitionBy("host").orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "host", "_b",
        F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off"))
    slot = (F.col("_off") + F.col("_rn") - 1).cast("long")
    return (local.join(F.broadcast(offsets), ["host", "_b"])
            .select("host", "url", slot.alias("slot"),
                    (F.lit(start_us) + slot * F.lit(interval_us))
                    .cast("long").alias("fetch_us")))


def plain_schedule(urls: DataFrame) -> DataFrame:
    """The single-window reference implementation (head-host skew rides
    one task); semantics identical to ``crawl_schedule`` — the equality
    is the operator's correctness gate."""
    w = Window.partitionBy("host").orderBy(F.md5(F.col("url")), "url")
    slot = (F.row_number().over(w) - 1).cast("long")
    return urls.select("host", "url", slot.alias("slot"),
                       (F.lit(EPOCH_2024_US) + slot * F.lit(2_000_000))
                       .cast("long").alias("fetch_us"))
