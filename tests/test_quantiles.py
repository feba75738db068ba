"""Quantile gates: histogram binning/clamping, integer ceil-rank readout
edges, exact group percentiles vs numpy-free local replay, and tie
independence."""

import math
import random

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.quantiles import (
    exact_group_quantiles, histogram_quantiles, histogram_sketch, to_cents)
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-quantiles", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _cents_df(spark, vals):
    return spark.createDataFrame([(c,) for c in vals], "c long")


def test_histogram_bins_and_clamp(spark):
    # bins of width 10 over [0, 100); -5 clamps to bin 0, 1000 to bin 9
    df = _cents_df(spark, [0, 9, 10, 99, -5, 1000, 55])
    got = {r.bin: r.cnt for r in histogram_sketch(
        df, F.col("c"), 0, 100, 10).collect()}
    assert got == {0: 3, 9: 2, 5: 1, 1: 1}


def test_histogram_param_validation(spark):
    df = _cents_df(spark, [1])
    with pytest.raises(ValueError):
        histogram_sketch(df, F.col("c"), 0, 100, 7)  # 100 % 7 != 0
    with pytest.raises(ValueError):
        histogram_sketch(df, F.col("c"), 10, 10, 1)


def test_histogram_quantile_readout(spark):
    # 10 values spread one per bin: q=50 -> ceil(5) = 5th value -> bin 4
    df = _cents_df(spark, [5, 15, 25, 35, 45, 55, 65, 75, 85, 95])
    hist = histogram_sketch(df, F.col("c"), 0, 100, 10)
    got = {r.q_pct: (r.bin, r.bin_lo_cents, r.bin_hi_cents, r.cum_cnt)
           for r in histogram_quantiles(hist, [50, 100, 1],
                                        0, 100, 10).collect()}
    assert got[50] == (4, 40, 50, 5)
    assert got[100] == (9, 90, 100, 10)
    assert got[1] == (0, 0, 10, 1)  # ceil(0.1) = 1st value


def test_histogram_quantile_matches_sorted_local(spark):
    rng = random.Random(11)
    vals = [rng.randrange(0, 2000) for _ in range(777)]
    hist = histogram_sketch(_cents_df(spark, vals), F.col("c"),
                            0, 2000, 40)
    got = {r.q_pct: r.bin
           for r in histogram_quantiles(hist, [10, 50, 90, 99],
                                        0, 2000, 40).collect()}
    sv = sorted(vals)
    for q, bin_ in got.items():
        rank_val = sv[math.ceil(q * len(sv) / 100) - 1]
        assert bin_ == min(39, rank_val // 50)


def test_exact_group_quantiles_match_local(spark):
    rng = random.Random(7)
    rows = [(g, rng.randrange(0, 10000))
            for g in ("a", "b", "c") for _ in range(rng.randrange(50, 90))]
    df = spark.createDataFrame(rows, "g string, c long")
    got = {(r.g, r.q_pct): r.cents
           for r in exact_group_quantiles(df, "g", F.col("c"),
                                          [25, 50, 75, 90]).collect()}
    by_g = {}
    for g, c in rows:
        by_g.setdefault(g, []).append(c)
    for g, vals in by_g.items():
        sv = sorted(vals)
        for q in (25, 50, 75, 90):
            assert got[(g, q)] == sv[math.ceil(q * len(sv) / 100) - 1]


def test_exact_quantiles_tie_independent(spark):
    # heavy ties: the value at a fixed rank is unique regardless of how
    # row_number breaks ties; shuffled input must give identical output
    vals = [5] * 40 + [7] * 40 + [9] * 20
    rng = random.Random(1)
    shuffled = vals[:]
    rng.shuffle(shuffled)
    a = spark.createDataFrame([("g", c) for c in vals], "g string, c long")
    b = spark.createDataFrame([("g", c) for c in shuffled],
                              "g string, c long").repartition(7)
    qa = sorted((r.q_pct, r.cents) for r in exact_group_quantiles(
        a, "g", F.col("c"), [1, 40, 41, 80, 81, 100]).collect())
    qb = sorted((r.q_pct, r.cents) for r in exact_group_quantiles(
        b, "g", F.col("c"), [1, 40, 41, 80, 81, 100]).collect())
    assert qa == qb
    assert dict(qa) == {1: 5, 40: 5, 41: 7, 80: 7, 81: 9, 100: 9}


def test_group_moments_match_local_fractions(spark):
    from fractions import Fraction

    from stackoverflowner_spark.operators.quantiles import group_moments
    rng = random.Random(19)
    rows = [(g, rng.randrange(0, 50000))
            for g in ("a", "b") for _ in range(120)]
    df = spark.createDataFrame(rows, "g string, c long")
    got = {r.g: r for r in group_moments(df, "g", F.col("c")).collect()}
    for g in ("a", "b"):
        vals = [c for gg, c in rows if gg == g]
        n, sx, sxx = len(vals), sum(vals), sum(v * v for v in vals)
        r = got[g]
        assert (r.n, r.sum_cents, r.sum_sq_cents) == (n, sx, sxx)
        assert (r.var_num, r.var_den) == (n * sxx - sx * sx, n * n)
        # the rational IS the exact population variance
        mean = Fraction(sx, n)
        pvar = sum((Fraction(v) - mean) ** 2 for v in vals) / n
        assert Fraction(r.var_num, r.var_den) == pvar


def test_to_cents_exact_on_two_decimal_doubles(spark):
    df = spark.createDataFrame([(0.01,), (490.02,), (0.29,), (123.45,)],
                               "value double")
    got = sorted(r.c for r in df.select(
        to_cents(F.col("value")).alias("c")).collect())
    assert got == [1, 29, 12345, 49002]
