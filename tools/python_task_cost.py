#!/usr/bin/env python3
"""What a trivial Python task costs beyond its UDF:
``python tools/python_task_cost.py [CORES=4] [ROUNDS=5]``.

Per round on ``local[CORES]``: wall times of trivial JVM-only and
``mapInPandas`` jobs; each Python worker's CPU between two of its tasks (task
set-up, unseen by UDF profilers); the time of PySpark's per-task
``importlib.invalidate_caches()`` and of each zip importer it walks.
"""

import os
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


def main(cores: int = 4, rounds: int = 5) -> None:
    from stackoverflowner_spark.session import get_spark
    spark = get_spark(app_name="python-task-cost", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    schema = "pid long, cpu_in double, cpu_out double, inval_ms double, zips string"
    ids, last_cpu = spark.range(cores, numPartitions=cores), {}
    for k in range(rounds):
        t0 = time.perf_counter()
        ids.selectExpr("sum(id)").collect()
        t1 = time.perf_counter()
        rows = ids.mapInPandas(probe, schema).collect()
        print(f"round {k}: JVM-only {(t1 - t0) * 1e3:.0f} ms, "
              f"mapInPandas {(time.perf_counter() - t1) * 1e3:.0f} ms")
        for r in sorted(rows, key=lambda r: (r.pid, r.cpu_in)):
            gap = (r.cpu_in - last_cpu.get(r.pid, r.cpu_in)) * 1e3
            last_cpu[r.pid] = r.cpu_out
            print(f"  worker {r.pid}: CPU since its last task {gap:.0f} ms, "
                  f"invalidate_caches {r.inval_ms:.0f} ms")
    print("zip importers (one worker):\n  " + rows[0].zips)
    spark.stop()


if __name__ == "__main__":
    main(*map(int, sys.argv[1:3]))
