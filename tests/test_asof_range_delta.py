"""Gates for the r5d join shapes: as-of join, binned range join,
crawl-snapshot delta.

Three layers: (1) the driver-strict oracle compare on the three new
contract entries (DuckDB ASOF JOIN / IEJoin / full-outer as independent
engines); (2) semantic gates — chunked-carry as-of == single-window
as-of, tolerance nulling, outer range join, planted delta specimens;
(3) plan gates — the range join must never degenerate to a
nested-loop/cartesian plan, and the as-of join must stay a pure
window-over-union (no join node at all in the unchunked plan).
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.asof import asof_join, dedupe_build
from stackoverflowner_spark.operators.crawldiff import (changed_or_added,
                                                        delta_counts,
                                                        snapshot_delta)
from stackoverflowner_spark.operators.rangejoin import (
    interval_point_counts, point_in_interval_join)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-asof-range-delta", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_new_entries_driver_strict(spark):
    from tests.oracle_harness import run_all
    res = run_all(spark, SF, only=["asof_join", "range_join", "crawl_delta"],
                  strict=True)
    assert all(v == [] for v in res.values()), res


# ------------------------------------------------------------------ as-of
def _ev(spark):
    return spark.read.parquet(SF + "/events.parquet")


def _asof_frames(spark):
    ev = _ev(spark)
    probe = (ev.filter(F.col("event_type") == "view")
             .select("event_id", "user_id", "ts"))
    build = dedupe_build(
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value", "event_id"),
        ["user_id"], "ts", "event_id").select("user_id", "ts", "value")
    return probe, build


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_chunked_carry_equals_single_window(spark):
    probe, build = _asof_frames(spark)
    plain = asof_join(probe, build, ["user_id"], "ts", ["value"])
    # ~3-day chunks over a 30-day span: many chunks per key, some with no
    # build rows (purchases are sparse), so the strictly-earlier gap hop
    # is genuinely exercised
    chunked = asof_join(probe, build, ["user_id"], "ts", ["value"],
                        chunk_width_us=3 * 86_400_000_000)
    a, b = _rows(plain), _rows(chunked)
    assert a == b and len(a) > 1000


def test_tolerance_nulls_stale_matches(spark):
    probe, build = _asof_frames(spark)
    tol = 86_400_000_000  # 1 day
    plain = asof_join(probe, build, ["user_id"], "ts", ["value"]).collect()
    tight = asof_join(probe, build, ["user_id"], "ts", ["value"],
                      tolerance_us=tol).collect()
    by_id = {r.event_id: r for r in tight}
    n_nulled = 0
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    probe_ts = {r.event_id: r.us
                for r in probe.select("event_id", us.alias("us")).collect()}
    for r in plain:
        t = by_id[r.event_id]
        if r.asof_ts_us is not None and probe_ts[r.event_id] - r.asof_ts_us > tol:
            assert t.asof_ts_us is None and t.asof_value is None
            n_nulled += 1
        else:
            assert (t.asof_ts_us, t.asof_value) == (r.asof_ts_us, r.asof_value)
    assert n_nulled > 0  # the 1-day tolerance must actually bite


def test_asof_inclusive_tie_and_dedupe(spark):
    probe = spark.createDataFrame(
        [(1, 100), (2, 50)], "user_id long, pe long").select(
        "user_id", F.timestamp_micros(F.col("pe") * 1_000_000).alias("ts"),
        "pe")
    build = spark.createDataFrame(
        [(1, 100, 1.0, 7), (1, 100, 2.0, 9), (1, 60, 5.0, 1)],
        "user_id long, be long, value double, event_id long").select(
        "user_id", F.timestamp_micros(F.col("be") * 1_000_000).alias("ts"),
        "value", "event_id")
    b = dedupe_build(build, ["user_id"], "ts", "event_id").select(
        "user_id", "ts", "value")
    out = {r.user_id: (r.asof_ts_us, r.asof_value)
           for r in asof_join(probe, b, ["user_id"], "ts", ["value"]).collect()}
    # tie at ts=100 matches (inclusive) and the max-event_id row won dedupe
    assert out[1] == (100_000_000, 2.0)
    assert out[2] == (None, None)


def _plan_nodes(df):
    ep = df._jdf.queryExecution().executedPlan()
    if ep.nodeName() == "AdaptiveSparkPlan":
        ep = ep.initialPlan()
    out, stack = [], [ep]
    while stack:
        n = stack.pop()
        out.append(n.nodeName())
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def test_asof_plan_has_no_join(spark):
    probe, build = _asof_frames(spark)
    out = asof_join(probe, build, ["user_id"], "ts", ["value"])
    nodes = _plan_nodes(out)
    assert not any("Join" in n for n in nodes), nodes  # union + window only
    # exactly two shuffles: the build-side dedupe window on (key, ts) and
    # the merge window on (key); the probe leg reaches the merge window
    # with no join and no extra Exchange
    assert sum("Exchange" in n for n in nodes) <= 2, nodes


# ------------------------------------------------------------- range join
def test_range_join_plan_never_nested_loop(spark):
    day = 86_400_000_000
    iv = (spark.read.parquet(SF + "/orders.parquet")
          .select("o_orderkey",
                  F.unix_micros(F.col("o_orderdate").cast("timestamp_ltz"))
                  .alias("s"))
          .withColumn("e", F.col("s") + F.lit(7 * day)))
    pts = spark.read.parquet(SF + "/lineitem.parquet").select(
        F.unix_micros(F.col("l_shipdate").cast("timestamp_ltz")).alias("pt"))
    j = interval_point_counts(pts, iv, "pt", "s", "e", bin_width=7 * day,
                              interval_keys=["o_orderkey"])
    nodes = _plan_nodes(j)
    assert not any("NestedLoop" in n or "Cartesian" in n for n in nodes), nodes


@pytest.mark.parametrize("width_days", [2, 7, 30])
def test_range_join_width_invariant(spark, width_days):
    # the bin width is a physical knob only: any width gives the same rows
    day = 86_400_000_000
    iv = (spark.read.parquet(SF + "/orders.parquet").limit(300)
          .select("o_orderkey",
                  F.unix_micros(F.col("o_orderdate").cast("timestamp_ltz"))
                  .alias("s"))
          .withColumn("e", F.col("s") + F.lit(7 * day)))
    pts = spark.read.parquet(SF + "/lineitem.parquet").select(
        F.unix_micros(F.col("l_shipdate").cast("timestamp_ltz")).alias("pt"))
    got = _rows(interval_point_counts(pts, iv, "pt", "s", "e",
                                      bin_width=width_days * day,
                                      interval_keys=["o_orderkey"]))
    ref = _rows(iv.join(pts, (F.col("pt") >= F.col("s"))
                        & (F.col("pt") < F.col("e")))
                .groupBy("o_orderkey").agg(F.count("*").alias("n_points")))
    assert got == ref and len(got) > 100


def test_range_join_left_outer_keeps_empty_intervals(spark):
    iv = spark.createDataFrame(
        [(1, 0, 10), (2, 100, 110)], "k long, s long, e long")
    pts = spark.createDataFrame([(5,), (6,)], "pt long")
    out = point_in_interval_join(pts, iv, "pt", "s", "e", bin_width=10,
                                 how="left_outer")
    got = {(r.k, r.pt) for r in out.collect()}
    assert got == {(1, 5), (1, 6), (2, None)}


def test_range_join_rejects_bad_how(spark):
    iv = spark.createDataFrame([(1, 0, 10)], "k long, s long, e long")
    pts = spark.createDataFrame([(5,)], "pt long")
    with pytest.raises(ValueError):
        point_in_interval_join(pts, iv, "pt", "s", "e", 10, how="full")


# ------------------------------------------------------------ crawl delta
def test_snapshot_delta_planted_specimens(spark):
    a = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")], "url string, fp string")
    b = spark.createDataFrame(
        [("u1", "h1"), ("u2", "HX"), ("u4", "h4")], "url string, fp string")
    d = snapshot_delta(a, b, ["url"], "fp")
    got = {r.url: (r.status, r.fp_old, r.fp_new) for r in d.collect()}
    assert got == {
        "u1": ("unchanged", "h1", "h1"),
        "u2": ("changed", "h2", "HX"),
        "u3": ("removed", "h3", None),
        "u4": ("added", None, "h4"),
    }
    counts = {r.status: r.n for r in delta_counts(d).collect()}
    assert counts == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}
    todo = changed_or_added(d, b, ["url"])
    assert {r.url for r in todo.collect()} == {"u2", "u4"}
    # the work-list passes b's columns through untouched (left-semi)
    assert todo.columns == b.columns


def test_crawl_delta_all_classes_nonvacuous(spark):
    from tests.oracle_harness import load_entry
    mod = load_entry()
    d = mod.q_crawl_delta(spark, SF)
    counts = {r.status: r.n for r in delta_counts(d).collect()}
    assert set(counts) == {"added", "removed", "changed", "unchanged"}
    assert all(v > 5 for v in counts.values()), counts
