"""Per-op fixed costs of the flagship that have nothing to do with pages.

* Driver plan build: ``KGPipeline.build_fused`` builds link and triples
  from SQL strings, so one op costs a bounded number of py4j round trips
  (each ``functions``/``Column`` call is several).
* Worker heap: the kernel UDFs freeze each Python worker's long-lived heap
  once (``document_kernel._freeze_worker_heap``), so PySpark's per-task
  ``gc.collect()`` walks only what was created since, not the ~243k
  objects of an engine worker with the tagger loaded.
* Worker tagger: a Python job that does not use the tagger broadcast makes
  Spark drop it from the workers, and a worker keeps its unpickled tagger
  (``document_kernel._worker_tagger``) with its memos through that.
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
    assert len(calls) <= 120, len(calls)


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


def _held_taggers(spark):
    """Per Python worker a job without the tagger broadcast reaches: the
    broadcasts it still has registered, page memo lookups so far, and the
    id and sentence-memo size of the tagger its kernel UDFs hold."""
    n = spark.sparkContext.defaultParallelism

    def probe(batches):
        import os
        import sys
        import time

        import pandas as pd
        from pyspark.core.broadcast import _broadcastRegistry

        list(batches)
        time.sleep(0.2)
        doc = sys.modules.get("stackoverflowner_spark.kernel.document")
        dk = sys.modules.get(
            "stackoverflowner_spark.operators.document_kernel")
        lookups = sum(doc._PAGE_MEMO.info()[:2]) if doc else 0
        tagger = getattr(dk, "_WORKER_TAGGER", (None, None))[1]
        memo = getattr(tagger, "_sent_cache", None)
        yield pd.DataFrame(
            [(os.getpid(), len(_broadcastRegistry), lookups,
              id(tagger) if tagger else 0,
              len(memo) if memo is not None else -1)],
            columns=["pid", "registered", "lookups", "tagger", "memo"])

    rows = spark.range(2 * n, numPartitions=2 * n).mapInPandas(
        probe, "pid long, registered long, lookups long, tagger long,"
               " memo long").collect()
    return {r.pid: r for r in rows}


def test_worker_keeps_tagger_when_broadcast_is_dropped(spark, op):
    pipe, pages = op
    before = _held_taggers(spark)   # this job drops the broadcast
    assert pipe.build_fused(pages()).count() > 0
    after = _held_taggers(spark)
    both = [(before[p], after[p]) for p in before.keys() & after.keys()
            if 0 < before[p].lookups < after[p].lookups]
    assert both, (before, after)
    for b, a in both:
        assert b.registered == a.registered == 0, (b, a)
        assert b.tagger and a.tagger == b.tagger, (b, a)
        assert a.memo >= b.memo > 0, (b, a)
