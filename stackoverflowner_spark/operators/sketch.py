"""Mergeable HyperLogLog distinct-count sketches as plain DataFrames.

The 100-TB cardinality primitive the crawl bookkeeping needs (distinct
URLs per host, distinct tokens per source, distinct entities per crawl
snapshot) in a form Spark's built-in ``approx_count_distinct`` cannot
give you: the REGISTERS are the output, stored as ordinary rows
(key, reg, rho), so sketches are

- **mergeable**: union two register tables and take max(rho) per
  (key, reg) — sketch(A ∪ B) == merge(sketch(A), sketch(B)) exactly,
  which is what lets per-snapshot / per-partition sketches roll up
  across crawls without touching the raw data again;
- **engine-portable**: registers derive from md5 (the cross-engine
  hash, see tests/test_oracle_dot_fold.py lineage) with integer-only
  arithmetic, so a DuckDB oracle replays them bitwise;
- **bitwise-estimable**: the harmonic-mean denominator is accumulated
  as an INTEGER numerator Z·2^40 (each register contributes the dyadic
  rational 2^(40-rho), rho clamped ≤ 40, so the per-key sum is an exact
  bigint ≤ 2^48 — order-independent), and the final estimate is ONE
  exact int→double conversion and ONE correctly-rounded IEEE division
  of a shared literal constant: bitwise identical across engines, no
  float-summation-order caveat at all.

Layout: m = 2^b registers (default b=8, m=256, rel. std err ≈ 6.5%).
For each value v: md5(v) hex; the first 2b bits (b/4 hex chars) pick the
register; rho = 1 + leading-zero count of the NEXT 60 bits (15 hex
chars), clamped to 40. Clamping costs nothing at any realistic
cardinality (P[rho > 40] ≈ 2^-40 per value) and is what makes the
dyadic sum exact. Estimate = alpha_m · m² · 2^40 / Z_num — the RAW HLL
estimate; the small/large-range corrections of Flajolet et al. need
ln(), which is not cross-engine-stable, so they are left to the
consumer (documented; the pytest accuracy gate runs in the raw regime).

Scale shape: sketch build is one groupBy((key, reg)) — map-side combine
reduces every partition to ≤ m rows per key before the shuffle, so the
shuffle is O(keys · m) regardless of input size; estimate is a second
O(keys · m) -> O(keys) agg; merge is a union + the same bounded agg.

Reference parity note: the reference has no sketching; this is
engine-beyond-reference surface (SURVEY §2.9 class).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RHO_MAX = 40  # dyadic-exactness clamp: sum of 2^(40-rho) stays < 2^53


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def estimate_constant(b: int = 8) -> float:
    """alpha_m * m^2 * 2^RHO_MAX as the ONE double literal both engines
    divide by the integer Z numerator. Computed the same way here and in
    the oracle-SQL generator so the literal is shared, not re-derived."""
    m = 1 << b
    return _alpha(m) * m * m * (1 << RHO_MAX)


def rho_column(hexcol: Column, b: int = 8) -> Column:
    """1 + leading-zero-bit count of the 60 bits after the register
    prefix, clamped to RHO_MAX — integer/CASE arithmetic only."""
    tail = F.substring(hexcol, b // 4 + 1, 15)
    z = F.length(F.regexp_extract(tail, r"^0*", 0))
    first = F.substring(tail, (z + 1).cast("int"), 1)
    lz = (F.when(first.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
          .when(first.isin("4", "5", "6", "7"), 1)
          .when(first.isin("2", "3"), 2)
          .otherwise(3))
    return F.least(z * 4 + lz + 1, F.lit(RHO_MAX)).cast("int")


def hll_sketch(df: DataFrame, keys: list[str], value: str,
               b: int = 8) -> DataFrame:
    """-> (keys..., reg int, rho int): the register table, one row per
    (key, occupied register). Empty registers are implicit (absent)."""
    h = F.md5(F.col(value).cast("string"))
    reg = F.conv(F.substring(h, 1, b // 4), 16, 10).cast("int")
    return (df.select(*keys, reg.alias("reg"), rho_column(h, b).alias("rho"))
            .groupBy(*keys, "reg").agg(F.max("rho").alias("rho")))


def hll_estimate(regs: DataFrame, b: int = 8) -> DataFrame:
    """-> (keys..., present, zeros, z_num, est). ``z_num`` = Z·2^40 as an
    exact bigint; ``est`` = estimate_constant(b) / z_num, bitwise stable
    across engines (single conversion + single division)."""
    m = 1 << b
    keys = [c for c in regs.columns if c not in ("reg", "rho")]
    c = estimate_constant(b)
    agg = regs.groupBy(*keys).agg(
        F.count("*").cast("long").alias("present"),
        F.sum(F.expr(f"shiftleft(1L, {RHO_MAX} - rho)")).alias("z_reg"))
    zeros = (F.lit(m).cast("long") - F.col("present"))
    z_num = (F.col("z_reg")
             + zeros * F.lit(1 << RHO_MAX).cast("long")).alias("z_num")
    out = agg.select(*keys, "present", zeros.alias("zeros"), z_num)
    return out.select(*keys, "present", "zeros", "z_num",
                      (F.lit(c) / F.col("z_num").cast("double"))
                      .alias("est"))


def hll_distinct(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """sketch + estimate in one call — the per-key approximate
    distinct-count table (keys..., present, zeros, z_num, est)."""
    return hll_estimate(hll_sketch(df, keys, value))


# --------------------------------------------------------------------------- #
# Count-Min: mergeable frequency sketch, integer-only (bitwise everywhere)
# --------------------------------------------------------------------------- #
# Same design brief as HLL above, for FREQUENCIES instead of cardinality:
# the d×w counter matrix is stored as plain (keys..., depth, bucket, cnt)
# rows, so per-partition/per-crawl sketches merge by summing counts —
# sketch(A ∪ B) == merge(sketch(A), sketch(B)) exactly. Buckets derive
# from md5("<depth>:<value>") with integer arithmetic only (no float at
# all — estimates are exact bigints), so a DuckDB oracle replays the
# whole sketch AND every point estimate bit-for-bit.
#
# Guarantee (Cormode & Muthukrishnan 2005): est >= true always, and
# P[est > true + e·N] <= (1/2)^depth with width w = ceil(e/eps) — with
# the defaults (d=4, w=1024) the overestimate exceeds N/256 with
# probability ~6e-8 per probe. Point lookups take min over d rows.
#
# Scale shape: build is one groupBy((keys, depth, bucket)) over a d-way
# posexplode — map-side combine bounds the shuffle at O(keys · d · w)
# rows regardless of input size; merge is union + the same bounded sum;
# probing joins the bounded counter table (broadcast at any realistic
# keys·d·w) against the probe set's derived (depth, bucket) pairs.

CM_DEPTH = 4
CM_WIDTH = 1024  # counters per row; 2^10 keeps bucket ids tiny ints


def cm_bucket(value: Column, depth: Column) -> Column:
    """Row-``depth`` bucket of ``value``: first 32 bits of
    md5('<depth>:<value>') mod w. Integer-only, engine-portable."""
    h = F.md5(F.concat(depth.cast("string"), F.lit(":"),
                       value.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(CM_WIDTH)).cast("int")


def cm_sketch(df: DataFrame, keys: list[str], value: str,
              weight_col: str | None = None) -> DataFrame:
    """-> (keys..., depth int, bucket int, cnt long): the counter table,
    one row per non-zero (key, depth, bucket) cell.

    ``weight_col`` builds from PRE-AGGREGATED (value, multiplicity) rows:
    cnt = sum(weight) — counters are plain sums, so sketching counted
    distinct values equals sketching the raw occurrences bit-for-bit
    while hashing each distinct value d times instead of each occurrence
    (gated in tests/test_sketch.py)."""
    depth = F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))
                      ).alias("depth")
    wcols = [F.col(weight_col).alias("_w")] if weight_col else []
    cells = df.select(*keys, F.col(value).alias("_v"), *wcols, depth)
    cnt = (F.sum(F.col("_w").cast("long")) if weight_col
           else F.count("*"))
    return (cells.select(*keys, "depth",
                         cm_bucket(F.col("_v"), F.col("depth"))
                         .alias("bucket"), *(["_w"] if weight_col else []))
            .groupBy(*keys, "depth", "bucket")
            .agg(cnt.alias("cnt")))


def cm_estimate(sketch: DataFrame, probes: DataFrame, value: str,
                keys: list[str] | None = None) -> DataFrame:
    """Point-estimate each probe value against the counter table:
    -> (keys..., <value>, est long). ``est`` = min over the d rows of
    the probe's bucket count (0-cells are absent -> coalesce 0 via the
    min over matched rows only when all d match; an unmatched depth
    means a zero cell, so the true min is 0 and the value was never
    inserted — modeled with a left join + coalesce).

    The probe side joins a BOUNDED table (<= keys·d·w rows): at any
    realistic configuration AQE broadcasts it, so the probe set — the
    100-TB side — never shuffles."""
    keys = keys or [c for c in sketch.columns
                    if c not in ("depth", "bucket", "cnt")]
    depth = F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))
                      ).alias("depth")
    pv = (probes.select(*keys, F.col(value).alias(value)).distinct()
          .select(*keys, value, depth))
    pv = pv.withColumn("bucket", cm_bucket(F.col(value), F.col("depth")))
    joined = pv.join(sketch, [*keys, "depth", "bucket"], "left")
    return (joined.groupBy(*keys, value)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
                 .alias("est")))


# --------------------------------------------------------------------------- #
# Bloom filter: broadcast membership pruning without touching the big side
# --------------------------------------------------------------------------- #
# The 100-TB semi-join shape: a bounded build side (dictionary keys, the
# orders of one day, a decontamination blocklist) is folded into a packed
# bit table (block, bits) — at m bits that is ceil(m/63) rows, 63 usable
# bits per signed long so neither engine's bigint shift overflows (DuckDB
# raises on 1<<63). Pruning the probe side is then a PURE COLUMN
# EXPRESSION against a literal map of those blocks: zero shuffle, zero
# join, zero repartition of the 100-TB side — the plan is scan -> filter,
# and Catalyst pushes the surviving columns/rows straight through.
# False positives are deterministic (md5-derived positions), so both
# engines compute the IDENTICAL kept set and a DuckDB oracle replays the
# pruning bit-for-bit; callers needing exactness follow with the real
# join on the ~(1+fp) pre-filtered survivors.
#
# Mergeable like the other sketches: union block tables + bit_or per
# block == the filter of the unioned build inputs.

BLOOM_K = 5
BLOOM_BITS = 63 * 1024  # m; ceil(m/63) = 1024 packed blocks


def bloom_pos(value: Column, j: Column, m: int = BLOOM_BITS) -> Column:
    """Hash-j bit position of ``value``: first 32 bits of
    md5('<j>:<value>') mod m. Integer-only, engine-portable."""
    h = F.md5(F.concat(j.cast("string"), F.lit(":"), value.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(m)).cast("long")


def bloom_build(df: DataFrame, value: str, k: int = BLOOM_K,
                m: int = BLOOM_BITS) -> DataFrame:
    """-> (block int, bits long): the packed filter, one row per
    non-empty 63-bit block. ONE bounded shuffle: bit_or is idempotent,
    so duplicate positions need no distinct pass — the groupBy's
    map-side combine already collapses each partition to <= ceil(m/63)
    block rows before the exchange."""
    j = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
    pos = (df.select(F.col(value).alias("_v"), j)
           .select(bloom_pos(F.col("_v"), F.col("j"), m).alias("pos")))
    return (pos.select((F.col("pos") / 63).cast("int").alias("block"),
                       (F.col("pos") % 63).cast("int").alias("bit"))
            .groupBy("block")
            .agg(F.bit_or(F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.col("bit")))
                .alias("bits")))


def bloom_contains(value: Column, blocks: dict[int, int],
                   k: int = BLOOM_K, m: int = BLOOM_BITS) -> Column:
    """Membership predicate of ``value`` against a collected filter
    (``blocks``: block -> bits, bounded at ceil(m/63) entries — the
    same bounded-driver-collect discipline as the k-means centroids).
    Pure column expression: k md5s + map lookups, no join."""
    if blocks:
        flat: list[Column] = []
        for blk, bits in sorted(blocks.items()):
            flat += [F.lit(int(blk)), F.lit(int(bits))]
        bmap = F.create_map(*flat)
    else:
        bmap = F.create_map().cast("map<int,bigint>")
    pred = F.lit(True)
    for j in range(k):
        pos = bloom_pos(value, F.lit(j), m)
        word = F.coalesce(
            F.element_at(bmap, (pos / 63).cast("int")),
            F.lit(0).cast("long"))
        pred = pred & (F.call_function(
            "shiftright", word, (pos % 63).cast("int"))
            .bitwiseAND(F.lit(1).cast("long")) == 1)
    return pred


def bloom_prune(df: DataFrame, value: str, bloom: DataFrame,
                k: int = BLOOM_K, m: int = BLOOM_BITS) -> DataFrame:
    """Keep the rows of ``df`` whose ``value`` passes the filter.
    Collects the BOUNDED block table (never the probe side) and prunes
    with a pure column predicate — the probe plan stays scan+filter."""
    blocks = {int(r.block): int(r.bits) for r in bloom.collect()}
    return df.filter(bloom_contains(F.col(value), blocks, k, m))
