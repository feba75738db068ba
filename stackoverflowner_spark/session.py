"""SparkSession factory with scale-appropriate defaults.

Tuned for the sandbox (single JVM, local[N]) but every setting is the one
you'd want on a 1000-executor cluster too: AQE on (runtime re-plan +
skew-join splitting), Arrow on (all Python crossings are vectorized),
shuffle partitions sized to cores locally / data volume on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "stackoverflowner-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(n) if n.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # prefer shuffled-hash over sort-merge when a per-partition build
        # side fits (guide §3.1): skips both sort passes; AQE's local-map
        # threshold lets it rewrite SMJ->SHJ at runtime from measured
        # sizes. Right on clusters for the same reason (the sorts are
        # pure overhead when the build side hashes in memory); SMJ still
        # kicks in for genuinely large both-sides joins.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


class AppCache:
    """Driver-side values that live as long as one SparkContext, such as
    broadcasts and DataFrames.

    Keyed on ``applicationId``, not ``id(sc)``: a session restarted
    in-process can get a stopped context's id() and would be handed that
    context's destroyed objects. A ``put`` (made after a miss) first drops
    every other application's entries, then the oldest entry past
    ``maxsize``.
    """

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self._d: dict = {}

    def get(self, spark: SparkSession, key):
        return self._d.get((spark.sparkContext.applicationId, key))

    def put(self, spark: SparkSession, key, value) -> None:
        app_id = spark.sparkContext.applicationId
        d = self._d
        for k in [k for k in d if k[0] != app_id]:
            del d[k]
        d.pop((app_id, key), None)
        if len(d) >= self.maxsize:
            del d[next(iter(d))]
        d[(app_id, key)] = value
