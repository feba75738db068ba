"""KG stream (streaming/ingest.py): watermarked windowed mention counts."""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-stateful", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_windowed_mention_counts(spark, tmp_path):
    """Watermarked sliding-window mention counts over warc_ts event time."""
    from pyspark.sql import functions as F
    from stackoverflowner_spark.sources.pages import synth_pages
    from stackoverflowner_spark.streaming.ingest import (
        stream_pages, windowed_mention_counts)

    src = str(tmp_path / "pages")
    synth_pages(spark, 80).write.mode("overwrite").parquet(src)
    counts = windowed_mention_counts(
        stream_pages(spark, src), window="60 minutes", slide="30 minutes",
        watermark="2 hours")
    # update mode: emit running window counts every micro-batch (append mode
    # would withhold windows until the watermark passes them, and the file
    # source delivers timestamps out of order)
    q = (counts.writeStream.format("memory").queryName("win_counts")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = spark.table("win_counts")
    assert out.count() > 0
    row = out.orderBy(F.desc("n_mentions")).first()
    assert row["n_mentions"] >= 1 and row["surface_norm"]


def test_windowed_counts_equal_fused_kernel_without_consistency(spark, tmp_path):
    """windowed_mention_counts keeps doc-consistency OFF and counts every
    page: on a batch read it equals the raw fused kernel's mentions joined
    to warc_ts by url and grouped by the same windows. The learned tagger
    makes the gate non-vacuous: doc-consistency changes its counts."""
    from stackoverflowner_spark.operators.document_kernel import (
        pages_to_mentions_fused)
    from stackoverflowner_spark.operators.tagger import default_tagger
    from stackoverflowner_spark.sources.pages import synth_pages
    from stackoverflowner_spark.streaming.ingest import windowed_mention_counts

    src = str(tmp_path / "pages")
    # page 357 is the first of the seed-42 synth pages the pass rewrites
    synth_pages(spark, 400).write.mode("overwrite").parquet(src)
    pages = spark.read.parquet(src)
    tagger = default_tagger()
    window, slide = "60 minutes", "30 minutes"

    def collect(counts):
        return sorted(map(tuple, counts.select(
            "window.start", "window.end", "surface_norm",
            "n_mentions").collect()))

    def fused_counts(doc_consistency):
        m = pages_to_mentions_fused(pages, tagger, lang_filter=None,
                                    doc_consistency=doc_consistency)
        return collect(m.join(pages.select("url", "warc_ts"), "url")
                       .groupBy(F.window("warc_ts", window, slide),
                                "surface_norm")
                       .agg(F.count("*").alias("n_mentions")))

    got = collect(windowed_mention_counts(pages, tagger, window=window,
                                          slide=slide, watermark="2 hours"))
    assert got and got == fused_counts(False)
    assert got != fused_counts(True)
