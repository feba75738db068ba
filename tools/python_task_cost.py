#!/usr/bin/env python3
"""What a trivial Python task costs beyond its UDF:
``python tools/python_task_cost.py [CORES=4] [ROUNDS=5]``, run from the
repo root so Python workers can import the package.

Per round on ``local[CORES]``: wall times of trivial JVM-only and
``mapInPandas`` jobs; each Python worker's CPU between two of its tasks (task
set-up, unseen by UDF profilers); the time of PySpark's per-task
``importlib.invalidate_caches()`` and of each zip importer it walks; the
worker's GC-tracked objects and the time of one full ``gc.collect()``, which
PySpark's daemon runs after every task.

It runs ROUNDS rounds raw, then ROUNDS "engine" rounds whose UDF holds the
engine's state as a kernel UDF does: the default tagger's broadcast value,
then ``document_kernel._freeze_worker_heap()``. Importing the package
installs ``stackoverflowner_spark/zipcache.py`` in the worker, which re-reads
and stamps the existing zip importers once, so the first engine round still
pays the raw set-up cost and later ones do not.
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe(batches):
    import gc
    import importlib
    import zipimport
    import pandas as pd
    cpu_in = time.process_time()
    list(batches)
    t0 = time.perf_counter()
    gc.collect()
    gc_ms, objects = (time.perf_counter() - t0) * 1e3, len(gc.get_objects())
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    inval_ms, zips = (time.perf_counter() - t0) * 1e3, []
    for path, imp in list(sys.path_importer_cache.items()):
        if isinstance(imp, zipimport.zipimporter):
            t0 = time.perf_counter()
            imp.invalidate_caches()
            zips.append(f"{path} {(time.perf_counter() - t0) * 1e3:.1f} ms")
    yield pd.DataFrame([(os.getpid(), cpu_in, time.process_time(), inval_ms,
                         gc_ms, objects, "\n  ".join(zips))])


def engine_probe(bc):
    def run(batches):
        from stackoverflowner_spark.operators.document_kernel import (
            _freeze_worker_heap)
        assert bc.value is not None
        _freeze_worker_heap()
        yield from probe(batches)
    return run


def run_rounds(spark, cores, rounds, fn, label, last_cpu):
    """Per-round lines; returns each round's worker gaps (ms) and the
    last round's rows."""
    schema = ("pid long, cpu_in double, cpu_out double, inval_ms double, "
              "gc_ms double, objects long, zips string")
    ids, gaps = spark.range(cores, numPartitions=cores), []
    for k in range(rounds):
        t0 = time.perf_counter()
        ids.selectExpr("sum(id)").collect()
        t1 = time.perf_counter()
        rows = ids.mapInPandas(fn, schema).collect()
        print(f"{label} round {k}: JVM-only {(t1 - t0) * 1e3:.0f} ms, "
              f"mapInPandas {(time.perf_counter() - t1) * 1e3:.0f} ms")
        round_gaps = []
        for r in sorted(rows, key=lambda r: (r.pid, r.cpu_in)):
            if r.pid in last_cpu:
                round_gaps.append((r.cpu_in - last_cpu[r.pid]) * 1e3)
            last_cpu[r.pid] = r.cpu_out
            print(f"  worker {r.pid}: invalidate_caches {r.inval_ms:.0f} ms, "
                  f"gc.collect {r.gc_ms:.1f} ms over {r.objects} objects")
        gaps.append(round_gaps)
        if round_gaps:
            print(f"  CPU between tasks, median over workers: "
                  f"{statistics.median(round_gaps):.0f} ms")
    return gaps, rows


def main(cores: int = 4, rounds: int = 5) -> None:
    from stackoverflowner_spark.operators.document_kernel import (
        _tagger_broadcast)
    from stackoverflowner_spark.operators.tagger import default_tagger
    from stackoverflowner_spark.session import get_spark
    spark = get_spark(app_name="python-task-cost", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    last_cpu = {}
    raw, raw_rows = run_rounds(spark, cores, rounds, probe, "raw", last_cpu)
    eng, eng_rows = run_rounds(
        spark, cores, rounds,
        engine_probe(_tagger_broadcast(spark, default_tagger())), "engine",
        last_cpu)
    for label, gaps, rows in (("raw", raw[1:], raw_rows),
                              ("engine", eng[1:], eng_rows)):
        print(f"zip importers, {label} (one worker):\n  " + rows[0].zips)
        print(f"gc.collect per task, {label}: median "
              f"{statistics.median(r.gc_ms for r in rows):.1f} ms over "
              f"{statistics.median(r.objects for r in rows):.0f} tracked "
              f"objects (last round)")
        flat = [g for round_gaps in gaps for g in round_gaps]
        if flat:
            print(f"per-task CPU outside the UDF, {label}: median "
                  f"{statistics.median(flat):.0f} ms over {len(flat)} tasks")
    spark.stop()


if __name__ == "__main__":
    main(*map(int, sys.argv[1:3]))
