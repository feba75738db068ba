"""Lineage truncation for iterative DataFrame loops.

``DataFrame.localCheckpoint`` cuts the RDD lineage, but the relation it
returns keeps the size estimate of the plan it replaced. The size-only
estimator multiplies the sizes of an inner join's inputs, so a loop whose
state is joined back into itself every round (an epoch's gradients join
the entity table three times, then update it) multiplies the estimate's
digit count every round: after ten TransE epochs one more epoch spent
173 s, and each 16-row query over the result 33 s, in ``BigInt``
products while planning.

``checkpoint`` is ``localCheckpoint`` with that estimate capped: when it
is past ``Long.MaxValue`` (the ``spark.sql.defaultSizeInBytes`` default,
already a "do not broadcast" size) the relation is rebuilt over the same
checkpointed RDD with no carried estimate, so it plans at the default
size. Output, partitioning, ordering and constraints are kept; an
estimate that fits a long is left as it is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LONG_MAX = 2 ** 63 - 1


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` whose size estimate stays a long."""
    ck = df.localCheckpoint()
    rel = ck._jdf.queryExecution().analyzed()  # the LogicalRDD
    if rel.stats().sizeInBytes() <= _LONG_MAX:
        return ck
    jvm = df.sparkSession._jvm
    fresh = jvm.org.apache.spark.sql.execution.LogicalRDD(
        rel.output(), rel.rdd(), rel.outputPartitioning(),
        rel.outputOrdering(), rel.isStreaming(), rel.stream(),
        df.sparkSession._jsparkSession, jvm.scala.Option.empty(),
        jvm.scala.Some(rel.constraints()))
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        df.sparkSession._jsparkSession, fresh)
    return DataFrame(jdf, df.sparkSession)
