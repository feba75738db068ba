"""Per-op fixed costs of the flagship that have nothing to do with pages.

* Driver plan build: ``KGPipeline.build_fused`` builds link and triples
  from SQL strings, so one op costs a bounded number of py4j round trips
  (each ``functions``/``Column`` call is several).
* Worker heap: the kernel UDFs freeze each Python worker's long-lived heap
  once (``document_kernel._freeze_worker_heap``), so PySpark's per-task
  ``gc.collect()`` walks only what was created since, not the ~243k
  objects of an engine worker with the tagger loaded.
"""

import tempfile

import pytest

from stackoverflowner_spark.plans.pipeline import KGPipeline
from stackoverflowner_spark.session import get_spark
from stackoverflowner_spark.sources.pages import PAGES_SCHEMA, synth_pages


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-fixedcosts", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def op(spark, tmp_path_factory):
    """(pipeline, pages reader) after one collected engine op."""
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    synth_pages(spark, 40).write.mode("overwrite").parquet(path)
    pipe = KGPipeline(spark, tempfile.mkdtemp())

    def pages():
        return spark.read.schema(PAGES_SCHEMA).parquet(path)

    assert pipe.build_fused(pages()).count() > 0
    return pipe, pages


def test_build_fused_py4j_round_trips(spark, op):
    pipe, pages = op
    src = pages()
    client = spark.sparkContext._gateway._gateway_client
    real, calls = client.send_command, []

    def counting(command, *a, **kw):
        # object-release messages ("m\nd\n<id>") are py4j housekeeping
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return real(command, *a, **kw)

    client.send_command = counting
    try:
        pipe.build_fused(src)
    finally:
        del client.send_command
    assert len(calls) <= 250, len(calls)


def test_kernel_worker_heap_is_frozen(spark, op):
    n = spark.sparkContext.defaultParallelism

    def probe(batches):
        # pickled by value and referencing nothing of the package, so it
        # sees the worker as the engine op left it
        import gc
        import os
        import sys
        import time

        import pandas as pd

        list(batches)
        time.sleep(0.2)  # overlap this job's tasks so they spread over workers
        doc = sys.modules.get("stackoverflowner_spark.kernel.document")
        ran = doc is not None and sum(doc._PAGE_MEMO.info()[:2]) > 0
        yield pd.DataFrame(
            [(os.getpid(), ran, gc.get_freeze_count(), len(gc.get_objects()))],
            columns=["pid", "ran_kernel", "frozen", "objects"])

    rows = spark.range(2 * n, numPartitions=2 * n).mapInPandas(
        probe, "pid long, ran_kernel boolean, frozen long, objects long"
    ).collect()
    kernel_workers = [r for r in rows if r.ran_kernel]
    assert kernel_workers, rows
    for r in kernel_workers:
        assert r.frozen > 0 and r.objects < 20_000, r
