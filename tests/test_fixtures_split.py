"""sources/fixtures.py: the splittable rewrite must change the scan's
parallelism, not its contents or its plan shape.

The r3 version of ``_t`` patched single-row-group fixtures with an RDD
probe + in-plan ``repartition()`` — an extra Exchange in every measured
plan. The rewrite path must instead produce a plain parquet scan that (a)
reads identical rows, (b) parallelizes across cores, and (c) contains no
Exchange at all.
"""

import os

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.session import get_spark
from stackoverflowner_spark.sources.fixtures import (read_fixture,
                                                     splittable_path)


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-fixtures", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def one_group_file(spark, tmp_path_factory):
    """A >1.5 MB single-file, single-row-group parquet — the driver fixture
    shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    root = tmp_path_factory.mktemp("fix")
    path = str(root / "big.parquet")
    n = 300_000
    tbl = pa.table({"doc_id": list(range(n)),
                    "text": [f"row {i} body text" for i in range(n)]})
    pq.write_table(tbl, path, row_group_size=n)
    assert os.path.getsize(path) > 1_500_000
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    return root, path


def test_rewrite_splits_and_preserves_rows(spark, one_group_file):
    root, path = one_group_file
    df = read_fixture(spark, str(root), "big")
    # parallelism restored: the scan has more than one input partition
    assert df.rdd.getNumPartitions() > 1
    # contents identical
    orig = spark.read.parquet(path)
    assert df.count() == orig.count() == 300_000
    assert df.agg(F.sum("doc_id")).first()[0] == orig.agg(F.sum("doc_id")).first()[0]
    assert df.schema == orig.schema


def test_rewrite_plan_has_no_exchange(spark, one_group_file):
    root, _ = one_group_file
    plan = (read_fixture(spark, str(root), "big")
            .filter(F.col("doc_id") < 10)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan


def test_rewrite_is_cached_and_small_files_untouched(spark, one_group_file,
                                                     tmp_path):
    root, path = one_group_file
    p1 = splittable_path(spark, path)
    p2 = splittable_path(spark, path)
    assert p1 == p2 and p1 != path            # stable cache hit
    # small files come back untouched (single task is the right plan)
    import pyarrow as pa
    import pyarrow.parquet as pq
    small = str(tmp_path / "small.parquet")
    pq.write_table(pa.table({"x": [1, 2, 3]}), small)
    assert splittable_path(spark, small) == small
    # missing/dir paths come back untouched
    assert splittable_path(spark, str(tmp_path / "nope.parquet")) == \
        str(tmp_path / "nope.parquet")


def test_fanout_spreads_small_files(spark, tmp_path):
    """``fanout=True`` must spread even a tiny file: byte size measures
    scan cost, not the ~50x per-row CPU of shingle/vector consumers (the
    r5 bench regression — a 584 KB documents fixture shingled on ONE task
    measured minhash 2.5 s -> 16 s). Plan shape stays Exchange-free."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    small = str(tmp_path / "docs.parquet")
    n = 5000
    pq.write_table(pa.table({"doc_id": list(range(n)),
                             "text": [f"some body text {i}" for i in range(n)]}),
                   small, row_group_size=n)
    assert os.path.getsize(small) < 1_500_000
    # default: untouched; fanout: rewritten and spread
    assert splittable_path(spark, small) == small
    df = spark.read.parquet(splittable_path(spark, small, fanout=True))
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert df.count() == n
    plan = (df.filter(F.col("doc_id") < 10)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan


def test_app_cache_prunes_other_apps_and_caps():
    """``session.AppCache``: entries live per applicationId, a put drops
    other applications' entries, and the oldest goes past ``maxsize``."""
    from types import SimpleNamespace

    from stackoverflowner_spark.session import AppCache

    def app(app_id):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(applicationId=app_id))

    a, b = app("app-a"), app("app-b")
    cache = AppCache(2)
    cache.put(a, "x", 1)
    cache.put(a, "y", 2)
    assert (cache.get(a, "x"), cache.get(a, "y"), cache.get(b, "x")) == (
        1, 2, None)
    cache.put(a, "z", 3)  # past the cap: "x", the oldest, goes
    assert (cache.get(a, "x"), cache.get(a, "y"), cache.get(a, "z")) == (
        None, 2, 3)
    cache.put(a, "y", 4)  # a re-put replaces, evicting nothing
    assert (cache.get(a, "y"), cache.get(a, "z")) == (4, 3)
    cache.put(b, "x", 5)  # a new application drops every entry of app-a
    assert (cache.get(a, "y"), cache.get(a, "z"), cache.get(b, "x")) == (
        None, None, 5)
