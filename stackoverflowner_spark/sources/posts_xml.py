"""Posts.xml source (SURVEY.md S1): the reference's actual input format.

Stack Exchange data dumps ship one ``<row .../>`` element per line inside a
``<posts>`` wrapper. The reference parses each line as its own XML document
(``code/DataReader/read_so_post_info.py:220-265``) and keys answers by
``ParentId_Id`` (its ``parent_child`` id scheme); questions by ``Id``.

Spark shape: ``spark.read.text`` splits the dump by line (the dump
convention guarantees one row element per line, so a 100 TB dump parallelizes
on plain text splits with no XML-aware splitter), then one Arrow-batched
``mapInPandas`` does the per-line XML parse — per-row Python is unavoidable
for real XML attribute unescaping, and this is a one-time ingest pass.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

POSTS_SCHEMA = T.StructType([
    T.StructField("post_id", T.StringType(), False),     # Id or ParentId_Id
    T.StructField("raw_id", T.StringType(), False),
    T.StructField("post_type_id", T.StringType(), True),
    T.StructField("parent_id", T.StringType(), True),    # answers only
    T.StructField("title", T.StringType(), True),
    T.StructField("tags", T.StringType(), True),
    T.StructField("creation_date", T.StringType(), True),
    T.StructField("body", T.StringType(), True),          # unescaped HTML
    T.StructField("ok", T.BooleanType(), False),
    T.StructField("err", T.StringType(), True),           # parse failures
])


def posts_xml(spark: SparkSession, path: str) -> DataFrame:
    """Parse a Posts.xml dump into post rows (read_so_post_info.py:230-265
    semantics: answers get ``parent_child`` ids).

    Malformed lines are NOT silently dropped: they surface as ``ok=false``
    rows carrying the error and a line prefix in ``err`` so a dump-scale
    ingest keeps lineage over every input line (same ok/err discipline as
    ``extract_stage``). Downstream adapters filter ``ok``."""
    lines = spark.read.text(path).filter(F.col("value").contains("<row"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for line in pdf["value"]:
                try:
                    row = ET.fromstring("<posts>" + line + "</posts>")[0]
                except ET.ParseError as e:
                    out.append(("", "", None, None, None, None, None, None,
                                False, f"xml:{e}:{line[:120]}"))
                    continue
                raw_id = (row.get("Id") or "").strip()
                ptype = row.get("PostTypeId")
                parent = row.get("ParentId")
                if ptype == "2" and parent is not None:
                    post_id = parent.strip() + "_" + raw_id
                else:
                    post_id = raw_id
                out.append((post_id, raw_id, ptype,
                            parent.strip() if parent else None,
                            row.get("Title"), row.get("Tags"),
                            row.get("CreationDate"), row.get("Body"),
                            True, None))
            yield pd.DataFrame(out, columns=[
                "post_id", "raw_id", "post_type_id", "parent_id", "title",
                "tags", "creation_date", "body", "ok", "err"])

    return lines.mapInPandas(parse, schema=POSTS_SCHEMA)


def posts_as_pages(posts: DataFrame) -> DataFrame:
    """Adapt post rows to the pages shape the document kernel consumes
    (url, warc_ts, html, text, lang) — Posts.xml ingest feeds the exact same
    fused pipeline as Common-Crawl pages."""
    if "ok" in posts.columns:
        posts = posts.filter(F.col("ok"))
    return posts.select(
        F.concat(F.lit("so://post/"), F.col("post_id")).alias("url"),
        F.to_timestamp("creation_date").alias("warc_ts"),
        F.encode(F.col("body"), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )


FINAL_TEXT_SCHEMA = T.StructType([
    T.StructField("post_id", T.StringType(), False),
    T.StructField("final_text", T.StringType(), True),
])


def posts_final_text(posts: DataFrame) -> DataFrame:
    """posts -> the reference's per-post tokenized text file content
    (``text_files/<post_id>.txt``): extract_text + sentencize with the
    post-id header, byte-identical to the shipped goldens (gated in tests)."""
    from ..kernel.htmltext import ExtractionError, extract_text
    from ..kernel.sentencize import sentencize

    if "ok" in posts.columns:
        posts = posts.filter(F.col("ok"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for pid, body in zip(pdf["post_id"], pdf["body"]):
                if body is None:
                    continue
                try:
                    final, _ = sentencize(extract_text(body), pid,
                                          with_header=True)
                except ExtractionError:
                    continue
                out.append((pid, final))
            yield pd.DataFrame(out, columns=["post_id", "final_text"])

    return posts.select("post_id", "body").mapInPandas(
        run, schema=FINAL_TEXT_SCHEMA)
