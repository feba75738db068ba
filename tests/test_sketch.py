"""Sketch gates (HLL + Count-Min): bitwise DuckDB replay,
duplicate/order invariance, accuracy, and the CM
never-underestimate guarantee."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.sketch import (
    CM_DEPTH, CM_WIDTH, RHO_MAX, bloom_build, bloom_prune, cm_estimate,
    cm_sketch, estimate_constant, hll_distinct, hll_estimate, hll_sketch)
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-sketch", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _vals(n, seed=""):
    return [(f"k{i % 3}", f"{seed}v{i}") for i in range(n)]


DUCK_SKETCH = """
    with h as (
      select key, md5(val) as hx from vals),
    reg as (
      select key,
             cast('0x' || substr(hx, 1, 2) as bigint) as reg,
             substr(hx, 3, 15) as tail
      from h),
    rho as (
      select key, reg,
             least(4 * length(regexp_extract(tail, '^0*')) +
                   case substr(tail,
                               length(regexp_extract(tail, '^0*')) + 1, 1)
                     when '8' then 0 when '9' then 0 when 'a' then 0
                     when 'b' then 0 when 'c' then 0 when 'd' then 0
                     when 'e' then 0 when 'f' then 0
                     when '4' then 1 when '5' then 1 when '6' then 1
                     when '7' then 1
                     when '2' then 2 when '3' then 2
                     else 3 end + 1,
                   {rho_max}) as rho
      from reg)
    select key, reg, max(rho) as rho from rho group by key, reg
"""

DUCK_EST = """
    select key,
           count(*) as present,
           256 - count(*) as zeros,
           sum(1::BIGINT << ({rho_max} - rho))
             + (256 - count(*)) * (1::BIGINT << {rho_max}) as z_num,
           {c!r} / cast(sum(1::BIGINT << ({rho_max} - rho))
             + (256 - count(*)) * (1::BIGINT << {rho_max}) as double) as est
    from ({sketch}) group by key
"""


def test_registers_bitwise_match_duckdb(spark):
    rows = _vals(500)
    sdf = spark.createDataFrame(rows, "key string, val string")
    got = (hll_sketch(sdf, ["key"], "val")
           .toPandas().sort_values(["key", "reg"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("vals", pd.DataFrame(rows, columns=["key", "val"]))
    exp = (con.execute(DUCK_SKETCH.format(rho_max=RHO_MAX) +
                       " order by key, reg").df())
    assert got["key"].tolist() == exp["key"].tolist()
    assert got["reg"].astype(int).tolist() == exp["reg"].astype(int).tolist()
    assert got["rho"].astype(int).tolist() == exp["rho"].astype(int).tolist()


def test_estimate_bitwise_matches_duckdb(spark):
    rows = _vals(800)
    sdf = spark.createDataFrame(rows, "key string, val string")
    got = (hll_distinct(sdf, ["key"], "val")
           .toPandas().sort_values("key").reset_index(drop=True))
    con = duckdb.connect()
    con.register("vals", pd.DataFrame(rows, columns=["key", "val"]))
    q = DUCK_EST.format(rho_max=RHO_MAX, c=estimate_constant(8),
                        sketch=DUCK_SKETCH.format(rho_max=RHO_MAX))
    exp = con.execute(q + " order by key").df()
    assert got["z_num"].astype(int).tolist() == \
        exp["z_num"].astype(int).tolist()
    # the headline claim: float estimate identical to the last bit
    assert got["est"].tolist() == exp["est"].tolist()


def test_duplicates_and_order_invariant(spark):
    base = _vals(300)
    dup = spark.createDataFrame(base * 3, "key string, val string")
    plain = spark.createDataFrame(list(reversed(base)),
                                  "key string, val string").repartition(7)
    e1 = {r.key: r.est for r in hll_estimate(
        hll_sketch(dup, ["key"], "val")).collect()}
    e2 = {r.key: r.est for r in hll_estimate(
        hll_sketch(plain, ["key"], "val")).collect()}
    assert e1 == e2  # bit-for-bit: integer Z sum is order-independent


def test_accuracy_raw_regime(spark):
    # m=256 -> rel std err ~6.5%; 5000 distinct is far above the
    # small-range-correction regime (2.5m = 640), so raw HLL applies.
    n = 5000
    sdf = spark.createDataFrame([("k", f"u{i}") for i in range(n)],
                                "key string, val string")
    est = hll_distinct(sdf, ["key"], "val").collect()[0].est
    assert abs(est - n) / n < 0.2, est


# --------------------------------------------------------------------------- #
# Count-Min
# --------------------------------------------------------------------------- #

DUCK_CM = """
    with cells as (
      select key, d.depth,
             cast('0x' || substr(md5(d.depth || ':' || val), 1, 8)
                  as bigint) % {w} as bucket
      from vals cross join (select unnest(range({d})) as depth) d)
    select key, depth, bucket, count(*) as cnt
    from cells group by key, depth, bucket
"""


def _zipf(n):
    # token i appears ~n/(i+1) times: a head-heavy frequency profile
    out = []
    for i in range(40):
        out += [("k", f"t{i}")] * max(1, n // (i + 1))
    return out


def test_cm_counters_bitwise_match_duckdb(spark):
    rows = _zipf(60)
    sdf = spark.createDataFrame(rows, "key string, val string")
    got = (cm_sketch(sdf, ["key"], "val")
           .toPandas().sort_values(["key", "depth", "bucket"])
           .reset_index(drop=True))
    con = duckdb.connect()
    con.register("vals", pd.DataFrame(rows, columns=["key", "val"]))
    exp = con.execute(DUCK_CM.format(w=CM_WIDTH, d=CM_DEPTH) +
                      " order by key, depth, bucket").df()
    assert got["depth"].astype(int).tolist() == \
        exp["depth"].astype(int).tolist()
    assert got["bucket"].astype(int).tolist() == \
        exp["bucket"].astype(int).tolist()
    assert got["cnt"].astype(int).tolist() == exp["cnt"].astype(int).tolist()


def test_cm_never_underestimates_and_is_tight(spark):
    rows = _zipf(120)
    sdf = spark.createDataFrame(rows, "key string, val string")
    sk = cm_sketch(sdf, ["key"], "val")
    probes = sdf.select("key", "val").distinct()
    est = {r.val: r.est for r in
           cm_estimate(sk, probes, "val").collect()}
    import collections
    true = collections.Counter(v for _, v in rows)
    n = len(rows)
    for v, t in true.items():
        assert est[v] >= t, (v, est[v], t)  # CM one-sided guarantee
        # e = 2/w (since w > 2/e): overestimate beyond 2N/w at all 4
        # depths simultaneously has probability ~2^-4 per probe; with
        # w=1024 and n~650 the slack is ~2 counts — allow a wide margin
        assert est[v] <= t + max(4, 8 * n // CM_WIDTH), (v, est[v], t)


def test_cm_probe_of_absent_value_is_zero_or_collision(spark):
    rows = _zipf(30)
    sdf = spark.createDataFrame(rows, "key string, val string")
    sk = cm_sketch(sdf, ["key"], "val")
    probes = spark.createDataFrame([("k", "never-inserted-xyz")],
                                   "key string, val string")
    est = cm_estimate(sk, probes, "val").collect()[0].est
    # min over 4 independent rows of a sparse table: 0 unless all 4
    # buckets collide (prob ~ (occupied/w)^4 — tiny here)
    assert est == 0


def test_cm_order_and_partitioning_invariant(spark):
    rows = _zipf(40)
    a = spark.createDataFrame(rows, "key string, val string")
    b = (spark.createDataFrame(list(reversed(rows)),
                               "key string, val string").repartition(7))
    pa = (cm_sketch(a, ["key"], "val").toPandas()
          .sort_values(["key", "depth", "bucket"]).reset_index(drop=True))
    pb = (cm_sketch(b, ["key"], "val").toPandas()
          .sort_values(["key", "depth", "bucket"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(pa, pb, check_dtype=False)


# --------------------------------------------------------------------------- #
# Bloom filter
# --------------------------------------------------------------------------- #

DUCK_BLOOM = """
    with js as (select unnest(range({k})) as j),
    pos as (
      select distinct
             cast('0x' || substr(md5(js.j || ':' || v), 1, 8)
                  as bigint) % {m} as pos
      from vals cross join js)
    select pos // 63 as block,
           bit_or(1::BIGINT << cast(pos % 63 as int)) as bits
    from pos group by block
"""


def test_bloom_no_false_negatives(spark):
    vals = [(f"member-{i}",) for i in range(300)]
    sdf = spark.createDataFrame(vals, "v string")
    bloom = bloom_build(sdf, "v", k=5, m=63 * 128)
    kept = bloom_prune(sdf, "v", bloom, k=5, m=63 * 128)
    assert kept.count() == 300  # every inserted value must pass


def test_bloom_fp_rate_bounded(spark):
    members = spark.createDataFrame([(f"m{i}",) for i in range(300)],
                                    "v string")
    probes = spark.createDataFrame([(f"absent{i}",) for i in range(2000)],
                                   "v string")
    m = 63 * 128  # fill ~ 1-exp(-1500/8064) = 0.17 -> fp ~ 0.17^5 ~ 1.4e-4
    bloom = bloom_build(members, "v", k=5, m=m)
    fp = bloom_prune(probes, "v", bloom, k=5, m=m).count()
    assert fp <= 10, fp


def test_bloom_blocks_bitwise_match_duckdb(spark):
    vals = [(f"doc-{i}",) for i in range(400)]
    sdf = spark.createDataFrame(vals, "v string")
    got = (bloom_build(sdf, "v", k=5, m=63 * 128)
           .toPandas().sort_values("block").reset_index(drop=True))
    con = duckdb.connect()
    con.register("vals", pd.DataFrame(vals, columns=["v"]))
    exp = con.execute(DUCK_BLOOM.format(k=5, m=63 * 128) +
                      " order by block").df()
    assert got["block"].astype(int).tolist() == \
        exp["block"].astype(int).tolist()
    assert got["bits"].astype(int).tolist() == \
        exp["bits"].astype(int).tolist()


def test_bloom_probe_plan_is_scan_plus_filter(spark, tmp_path):
    # The 100-TB claim: pruning adds NO join/exchange to the probe side —
    # the collected blocks ride as a literal map inside a Filter node.
    members = spark.createDataFrame([(f"m{i}",) for i in range(100)],
                                    "v string")
    bloom = bloom_build(members, "v")
    p = str(tmp_path / "probe.parquet")
    spark.createDataFrame([(f"p{i}", i) for i in range(1000)],
                          "v string, payload long").write.parquet(p)
    probe = spark.read.parquet(p)
    plan = (bloom_prune(probe, "v", bloom)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Filter" in plan and "Scan parquet" in plan, plan


def test_alpha_small_m(spark):
    # b=4 exercises the tabulated-alpha branch and the b-dependent
    # register-prefix width (1 hex char).
    sdf = spark.createDataFrame([("k", f"u{i}") for i in range(2000)],
                                "key string, val string")
    regs = hll_sketch(sdf, ["key"], "val", b=4)
    assert regs.agg(F.max("reg")).first()[0] <= 15
    est = hll_estimate(regs, b=4).collect()[0].est
    assert abs(est - 2000) / 2000 < 0.6  # m=16: ~26% std err


def test_cm_weighted_build_equals_raw_build(spark):
    # the weighted (pre-counted) build path must be cell-for-cell equal
    # to sketching the raw occurrence stream: counters are plain sums
    rows = _zipf(80)
    raw = spark.createDataFrame(rows, "key string, val string")
    counted = raw.groupBy("key", "val").agg(F.count("*").alias("n"))
    a = (cm_sketch(raw, ["key"], "val")
         .toPandas().sort_values(["key", "depth", "bucket"])
         .reset_index(drop=True))
    b = (cm_sketch(counted, ["key"], "val", weight_col="n")
         .toPandas().sort_values(["key", "depth", "bucket"])
         .reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
