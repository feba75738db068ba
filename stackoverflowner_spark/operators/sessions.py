"""Gap-based sessionization over an event stream.

The classic web-analytics primitive the reference's corpus lacks but any
crawl/event pipeline at scale needs: group a user's events into sessions
separated by idle gaps longer than a threshold, then roll each session up
to (count, span). Everything is two window functions plus one aggregate —
pure JVM whole-stage-codegen, no UDFs.

Scale shape: ONE shuffle on the user key (the window partition); the
rollup reuses the same partitioning (groupBy on a superset of the window
key), so Catalyst plans zero additional Exchanges. Per-task memory is one
user's events — the natural unit; a pathological single-user firehose is
the one skew case, and that input is better served by a streaming path
(watermarked event-time windows) than by salting, because session
assignment is order-dependent and cannot be salted without breaking gap
semantics across salt boundaries.

Timestamps are compared in epoch microseconds (``unix_micros`` over the
UTC-pinned session, matching DuckDB's ``epoch_us`` bit-for-bit), the same
convention as the ``lag_gap`` driver entry this operator supersedes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 6 hours; the synthetic events table's median inter-event gap is ~7.3 h,
# so roughly half the gaps open a new session — non-degenerate both ways.
DEFAULT_GAP_US = 6 * 3600 * 1_000_000


def sessionize(events: DataFrame, gap_us: int = DEFAULT_GAP_US) -> DataFrame:
    """Adds ``us`` (epoch micros) and ``session_seq`` (1-based per-user
    session ordinal). A session starts at the user's first event and at
    every event whose gap from the previous one exceeds ``gap_us``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = us - F.lag(us).over(w)
    starts = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    # running sum over a unique ordering key: RANGE vs ROWS frames agree
    return (events.withColumn("us", us)
            .withColumn("session_seq", F.sum(starts).over(w)))


def session_stats(events: DataFrame, gap_us: int = DEFAULT_GAP_US) -> DataFrame:
    """(user_id, session_seq, n_events, start_us, end_us) per session."""
    s = sessionize(events, gap_us)
    return (s.groupBy("user_id", "session_seq")
            .agg(F.count("*").alias("n_events"),
                 F.min("us").alias("start_us"),
                 F.max("us").alias("end_us")))
