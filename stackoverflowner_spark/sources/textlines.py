"""Auxiliary sources mirroring the reference's readers (S2, S5).

* ``body_lines``: one post body per non-blank line with zero-padded ids —
  ``code/BERT_NER/E2E_SoftNER.py:18-32``. Deterministic ids derive from the
  line number via a row_number over a monotonic file order (single files) or
  ``xxhash64`` of the line (multi-file; file order is not stable across a
  cluster, which the reference's implicit enumerate assumes).
* ``gold_conll``: the 4-column annotated corpus as a sentence-level DataFrame
  — ``code/DataReader/loader_so.py:77-158`` semantics via the pure kernel
  parser applied per file partition (``wholeTextFiles``-style, since sentence
  assembly is stateful across lines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def body_lines(spark: SparkSession, path: str) -> DataFrame:
    """E2E_SoftNER.read_file: post_id = str(line_no).zfill(6) over non-blank
    lines; returns (post_id, body)."""
    lines = spark.read.text(path).filter(F.trim("value") != "")
    w = Window.orderBy(F.monotonically_increasing_id())
    return lines.withColumn(
        "post_id", F.lpad((F.row_number().over(w) - 1).cast("string"), 6, "0")
    ).select("post_id", F.col("value").alias("body"))


def ctc_pred_dict(spark: SparkSession, path: str) -> DataFrame:
    """2-col TSV ``word \\t 0|1`` (the shipped CTC prediction dictionary,
    ``code/Attentive_BiLSTM/auxilary_inputs_ner/ctc_pred.tsv``; consumed as a
    dict lookup at ``loader_so.py:443-454`` -> broadcast join here)."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    return (
        lines.filter(F.size(parts) == 2)
        .select(parts.getItem(0).alias("word"),
                parts.getItem(1).cast("int").alias("ctc_pred"))
        .filter(F.col("ctc_pred").isNotNull())
    )


SEG_PRED_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("words", T.ArrayType(T.StringType())),
    T.StructField("gold_seg", T.ArrayType(T.StringType())),
    T.StructField("pred_seg", T.ArrayType(T.StringType())),
])


def segmenter_preds(spark: SparkSession, path: str) -> DataFrame:
    """3-col ``word gold_seg pred_seg`` with blank-line sentence breaks
    (``auxilary_inputs_ner/segmenter_pred/segmenter_pred_*.txt``), assembled
    into sentence rows so the downstream merge is a keyed join on
    (file, sent_idx) instead of the reference's positional zip
    (``loader_so.py:122-261``). sent_idx restarts per file, so the file path
    is part of the key — a multi-file glob would collide without it."""
    rdd = spark.sparkContext.binaryFiles(path)

    def parse(item):
        fname, data = item
        out = []
        words, gold, pred = [], [], []
        idx = 0
        for line in data.decode("utf-8", "replace").splitlines():
            vals = line.strip().split()
            if len(vals) < 3:
                if words:
                    out.append((fname, idx, words, gold, pred))
                    idx += 1
                    words, gold, pred = [], [], []
                continue
            words.append(vals[0])
            gold.append(vals[1])
            pred.append(vals[2])
        if words:
            out.append((fname, idx, words, gold, pred))
        return out

    return spark.createDataFrame(rdd.flatMap(parse), SEG_PRED_SCHEMA)


GOLD_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("words", T.ArrayType(T.StringType())),
    T.StructField("md_tags", T.ArrayType(T.StringType())),
    T.StructField("tags", T.ArrayType(T.StringType())),
])


def gold_conll(spark: SparkSession, path: str) -> DataFrame:
    """Gold corpus -> sentence rows. Files are small (the full train split is
    ~181k lines) so each file parses in one task via binaryFiles."""
    from ..kernel.goldload import parse_gold_lines

    rdd = spark.sparkContext.binaryFiles(path)

    def parse(item):
        fname, data = item
        lines = data.decode("utf-8", "replace").splitlines()
        out = []
        for i, sent in enumerate(parse_gold_lines(lines)):
            out.append((fname, i,
                        [t.word for t in sent],
                        [t.md_label for t in sent],
                        [t.tag for t in sent]))
        return out

    return spark.createDataFrame(rdd.flatMap(parse), GOLD_SCHEMA)
