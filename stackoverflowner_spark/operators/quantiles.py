"""Distribution summaries: mergeable integer histograms and exact
group quantiles.

The percentile story at 100 TB has two honest tiers, both shipped:

* **histogram_sketch** — the scale path. A fixed integer binning over
  an exact-cents domain: one groupBy(bin) shuffle over bounded keys,
  and the result is MERGEABLE (sum counts per bin) across partitions,
  crawls, or days — the same plain-rows sketch discipline as
  operators/sketch.py (HLL max-merge, Count-Min sum-merge). Quantile
  readout picks the first bin whose cumulative count reaches
  ``ceil(q * n / 100)`` — pure integer arithmetic (``div``/``pmod``,
  no float division anywhere), so the answer (bin index + exact cent
  bounds) is bitwise cross-engine. Resolution is the bin width, the
  documented sketch trade.
* **exact_group_quantiles** — the exact path. Per-group value at rank
  ``ceil(q * n / 100)`` over the integer-cents order: ONE window
  shuffle on the group key. row_number over ties is engine-arbitrary,
  but the VALUE at a fixed rank of a multiset is order-independent —
  only the value is emitted, so the output is deterministic and
  oracles bitwise. This is percentile_disc semantics restated so both
  engines provably agree (cross-engine percentile/interpolation
  flavors differ; rank arithmetic doesn't).

Money/value columns ride as exact integer cents (DECIMAL(18,2) * 100),
the TPC-H-family decimal discipline: no float ever enters a sum, a
comparison, or a hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def to_cents(col: Column) -> Column:
    """Exact integer cents of a 2-decimal money value stored as double."""
    return (col.cast("decimal(18,2)") * 100).cast("long")


def _idiv(num: Column, den: int) -> Column:
    """Exact integer floor-division of a non-negative long column by a
    positive literal: (num - num % den) / den. The numerator is exactly
    divisible, so the double division is exact while the quotient stays
    under 2^53 — and quotients here are ranks or bin indexes."""
    return ((num - F.pmod(num, F.lit(den))) / F.lit(den)).cast("long")


def _ceil_pct(q_pct: Column, n: Column) -> Column:
    """ceil(q_pct * n / 100) in integers."""
    return _idiv(q_pct * n + 99, 100)


def histogram_sketch(df: DataFrame, cents_col: Column,
                     lo_cents: int, hi_cents: int,
                     n_bins: int) -> DataFrame:
    """(bin, cnt): fixed-width integer histogram over [lo, hi) cents.
    ``hi - lo`` must divide evenly into ``n_bins`` (exact integer bin
    bounds are the contract). Out-of-range values clamp into the edge
    bins, so the sketch stays total over any input. Mergeable: union
    sketches and re-sum ``cnt`` per ``bin``."""
    if n_bins < 1 or hi_cents <= lo_cents:
        raise ValueError("need n_bins >= 1 and hi_cents > lo_cents")
    if (hi_cents - lo_cents) % n_bins:
        raise ValueError("hi_cents - lo_cents must be divisible by n_bins")
    bw = (hi_cents - lo_cents) // n_bins
    raw = _idiv(F.greatest(cents_col - F.lit(lo_cents),
                           F.lit(0).cast("long")), bw)
    bin_ = F.least(F.lit(n_bins - 1).cast("long"), raw)
    return (df.select(bin_.alias("bin"))
            .groupBy("bin").agg(F.count("*").cast("long").alias("cnt")))


def histogram_quantiles(hist: DataFrame, q_pcts: list[int],
                        lo_cents: int, hi_cents: int,
                        n_bins: int) -> DataFrame:
    """(q_pct, bin, bin_lo_cents, bin_hi_cents, cum_cnt): for each
    integer percentile q, the first bin whose cumulative count reaches
    ``ceil(q * n / 100)`` — all-integer, order-independent. The bins
    table is tiny (<= n_bins rows), so the cumulative window's
    single-partition pass runs over BOUNDED data, never the corpus."""
    if (hi_cents - lo_cents) % n_bins:
        raise ValueError("hi_cents - lo_cents must be divisible by n_bins")
    bw = (hi_cents - lo_cents) // n_bins
    cum = hist.select(
        "bin", "cnt",
        F.sum("cnt").over(
            Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"))
    qs = F.explode(F.array(*[F.lit(int(q)) for q in q_pcts])).alias("q_pct")
    hit = (cum.select("bin", "cum", "n", qs)
           .filter(F.col("cum") >= _ceil_pct(F.col("q_pct"), F.col("n"))))
    w = Window.partitionBy("q_pct").orderBy("bin")
    return (hit.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("q_pct").cast("long").alias("q_pct"),
                    F.col("bin"),
                    (F.lit(lo_cents) + F.col("bin") * bw)
                    .cast("long").alias("bin_lo_cents"),
                    (F.lit(lo_cents) + (F.col("bin") + 1) * bw)
                    .cast("long").alias("bin_hi_cents"),
                    F.col("cum").cast("long").alias("cum_cnt")))


def exact_group_quantiles(df: DataFrame, group_col: str, cents_col: Column,
                          q_pcts: list[int]) -> DataFrame:
    """(group, q_pct, cents): exact percentile_disc-style readout — the
    group's value at rank ``ceil(q * n / 100)`` in ascending cents
    order. One window shuffle on the group key; only the value is
    emitted, so row_number's tie order can't leak nondeterminism."""
    wg = Window.partitionBy(group_col)
    ranked = (df.select(F.col(group_col), cents_col.alias("_c"))
              .select(group_col, "_c",
                      F.row_number().over(wg.orderBy("_c")).alias("_rn"),
                      F.count("*").over(wg).alias("_n")))
    qs = F.explode(F.array(*[F.lit(int(q)) for q in q_pcts])).alias("q_pct")
    return (ranked.select(group_col, "_c", "_rn", "_n", qs)
            .filter(F.col("_rn") == _ceil_pct(F.col("q_pct"), F.col("_n")))
            .select(F.col(group_col),
                    F.col("q_pct").cast("long").alias("q_pct"),
                    F.col("_c").alias("cents")))


def group_moments(df: DataFrame, group_col: str,
                  cents_col: Column) -> DataFrame:
    """(group, n, sum_cents, sum_sq_cents, var_num, var_den): exact
    integer moments plus the population variance as the exact rational
    ``(n·Σx² − (Σx)²) / n²`` — mean and variance never leave integer
    arithmetic, so the whole row hashes bitwise cross-engine (the
    lmfilter/PMI discipline: consumers divide locally; the engine never
    hashes a float quotient).

    One map-side-combined groupBy shuffle. Overflow headroom: needs
    ``n · max(cents)² < 2^63`` per group — at $500 values (5e4 cents)
    that is ~3.7e9 rows/group; beyond that, pre-scale cents (divide by
    a documented power of ten) before calling."""
    agg = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cents_col).cast("long").alias("sum_cents"),
        F.sum(cents_col * cents_col).cast("long").alias("sum_sq_cents"))
    var_num = (F.col("n") * F.col("sum_sq_cents")
               - F.col("sum_cents") * F.col("sum_cents"))
    return agg.select(
        group_col, "n", "sum_cents", "sum_sq_cents",
        var_num.cast("long").alias("var_num"),
        (F.col("n") * F.col("n")).cast("long").alias("var_den"))
