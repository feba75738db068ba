#!/usr/bin/env python3
"""What a trivial Python task costs beyond its UDF:
``python tools/python_task_cost.py [CORES=4] [ROUNDS=5]``, run from the
repo root so Python workers can import the package.

Per round on ``local[CORES]``: wall times of trivial JVM-only and
``mapInPandas`` jobs; each Python worker's CPU between two of its tasks (task
set-up, unseen by UDF profilers); the time of PySpark's per-task
``importlib.invalidate_caches()`` and of each zip importer it walks.

It runs ROUNDS rounds raw, then ROUNDS rounds whose UDF imports
``stackoverflowner_spark``, as every engine UDF does. The import installs
``stackoverflowner_spark/zipcache.py`` in the worker, whose first
``invalidate_caches()`` re-reads each archive once to record its stamp, so
the first imported round still pays the raw cost. (An engine worker pays it
in its first two tasks: the set-up of the second does that first call.)
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe(batches):
    import importlib
    import zipimport
    import pandas as pd
    cpu_in = time.process_time()
    list(batches)
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    inval_ms, zips = (time.perf_counter() - t0) * 1e3, []
    for path, imp in list(sys.path_importer_cache.items()):
        if isinstance(imp, zipimport.zipimporter):
            t0 = time.perf_counter()
            imp.invalidate_caches()
            zips.append(f"{path} {(time.perf_counter() - t0) * 1e3:.1f} ms")
    yield pd.DataFrame([(os.getpid(), cpu_in, time.process_time(), inval_ms,
                         "\n  ".join(zips))])


def probe_imported(batches):
    import stackoverflowner_spark  # noqa: F401
    yield from probe(batches)


def run_rounds(spark, cores, rounds, fn, label, last_cpu):
    """Per-round lines; returns each round's worker gaps (ms) and the
    last round's zip importer lines."""
    schema = "pid long, cpu_in double, cpu_out double, inval_ms double, zips string"
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
            print(f"  worker {r.pid}: invalidate_caches {r.inval_ms:.0f} ms")
        gaps.append(round_gaps)
        if round_gaps:
            print(f"  CPU between tasks, median over workers: "
                  f"{statistics.median(round_gaps):.0f} ms")
    return gaps, rows[0].zips


def main(cores: int = 4, rounds: int = 5) -> None:
    from stackoverflowner_spark.session import get_spark
    spark = get_spark(app_name="python-task-cost", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    last_cpu = {}
    raw, raw_zips = run_rounds(spark, cores, rounds, probe, "raw", last_cpu)
    imp, imp_zips = run_rounds(spark, cores, rounds, probe_imported,
                               "imported", last_cpu)
    print("zip importers, raw (one worker):\n  " + raw_zips)
    print("zip importers, imported (one worker):\n  " + imp_zips)
    for label, gaps in (("raw", raw[1:]), ("imported", imp[1:])):
        flat = [g for round_gaps in gaps for g in round_gaps]
        if flat:
            print(f"per-task CPU outside the UDF, {label}: median "
                  f"{statistics.median(flat):.0f} ms over {len(flat)} tasks")
    spark.stop()


if __name__ == "__main__":
    main(*map(int, sys.argv[1:3]))
