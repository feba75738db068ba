"""Structured Streaming ingest variant (optional per SURVEY.md §1.2).

The reference is strictly batch (corpus in, files out); at web scale the
natural deployment is incremental: a stream of newly crawled pages appended
to the pages table, mentions/triples maintained continuously. This module
wires the SAME document kernel (the Spark-free ``kernel/document.py`` page
loop) into readStream -> transform -> writeStream:

* file-source stream over a pages parquet directory (stand-in for an Iceberg
  streaming read / Kafka crawl feed),
* the fused pages->mentions kernel applied as-is (mapInPandas works on
  streaming DataFrames),
* foreachBatch triple upsert (dedup against the batch — idempotent appends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.document_kernel import pages_to_mentions_fused
from ..operators.link import link
from ..operators.tagger import GazetteerTagger
from ..operators.triples import triples_from_linked
from ..sources.dictionary import dictionary_df
from ..sources.pages import PAGES_SCHEMA


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def start_triples_stream(spark: SparkSession, pages_dir: str, out_dir: str,
                         checkpoint_dir: str, tagger=None,
                         doc_consistency: bool = False):
    """pages stream -> triples parquet via foreachBatch (exactly-once per
    batch through the streaming checkpoint + idempotent batch dedup).

    ``doc_consistency`` threads the document-level label-consistency pass
    (kernel/docconsist.py) into the fused kernel; it is per-PAGE state, and
    a page row is always whole within its micro-batch, so the streaming
    result stays identical to the batch run at the same flag (gated in
    tests/test_streaming_consistency.py). Default off to match the plain
    fused kernel; KGPipeline's batch default is on.
    """
    dictionary = dictionary_df(spark)
    tagger = tagger or GazetteerTagger()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        mentions = pages_to_mentions_fused(batch_df, tagger,
                                           doc_consistency=doc_consistency)
        triples = triples_from_linked(link(mentions, dictionary))
        (triples.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    return (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
