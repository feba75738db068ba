"""File sinks for reference-toolchain interop (SURVEY.md S4 / S7).

* ``write_conll`` — the annotated-corpus 4-column format
  (``word \\t NE \\t word \\t markdown``, sentence break = a lone-tab line;
  ``resources/annotated_ner_data/Readme.md:3-8``). Anyone re-training the
  reference models on our extractions consumes this file.
* ``merge_conll_files`` — ``E2E_SoftNER.merge_all_conll_files`` semantics
  (``code/BERT_NER/E2E_SoftNER.py:35-62``): concatenate per-part files in
  sorted name order with a blank line between files.
* ``write_predictions`` — the ``word pred`` prediction file
  (``softner_ner_predict_from_file.py:628-643``): one space-separated
  token/prediction pair per line, blank line between sentences.

Scale shape: each sentence becomes ONE text row (a multi-line block built
columnar with ``concat_ws``/``transform`` — no Python in the write path);
``repartitionByRange + sortWithinPartitions`` keeps global (file, sent_idx)
order across ascending part files, so the driver-side merge — which exists
for single-file interop with the reference toolchain, inherently a
small-corpus operation — is a sorted concatenation.
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SENT_SEP = "\t"  # the shipped corpus separates sentences with a lone-tab line


def conll_blocks(sentences: DataFrame, tags_col: str = "tags",
                 md_col: str = "md_tags") -> DataFrame:
    """One 4-col CoNLL text block per sentence row. Internal spaces in a
    token are re-masked with ``-----`` exactly like the corpus (the loader
    splits lines on whitespace, loader_so.py:89)."""
    w = F.transform(F.col("words"), lambda x: F.regexp_replace(x, " ", "-----"))
    lines = F.zip_with(
        F.zip_with(w, F.col(tags_col), lambda x, t: F.concat_ws("\t", x, t)),
        F.zip_with(w, F.col(md_col), lambda x, m: F.concat_ws("\t", x, m)),
        lambda a, b: F.concat_ws("\t", a, b),
    )
    block = F.concat(F.array_join(lines, "\n"), F.lit("\n" + SENT_SEP))
    return sentences.select(
        "file", "sent_idx",
        block.alias("block"))


def write_conll(sentences: DataFrame, path: str, n_files: int = 4,
                tags_col: str = "tags", md_col: str = "md_tags") -> str:
    blocks = conll_blocks(sentences, tags_col=tags_col, md_col=md_col)
    (blocks.repartitionByRange(n_files, "file", "sent_idx")
     .sortWithinPartitions("file", "sent_idx")
     .select("block")
     .write.mode("overwrite").text(path))
    return path


def _sorted_parts(spark_text_dir: str) -> List[str]:
    return sorted(
        os.path.join(spark_text_dir, f)
        for f in os.listdir(spark_text_dir)
        if f.startswith("part-") and not f.endswith(".crc"))


def merge_conll_files(spark_text_dir: str, output_file: str) -> str:
    """merge_all_conll_files semantics: sorted file order, a blank line
    between files. Driver-side by design — a single merged file is the
    reference toolchain's interop contract, not a distributed artifact."""
    with open(output_file, "w") as fout:
        for p in _sorted_parts(spark_text_dir):
            with open(p) as f:
                data = f.read()
            if data:
                fout.write(data)
                fout.write("\n")
    return output_file


def prediction_blocks(sentences: DataFrame) -> DataFrame:
    lines = F.zip_with(F.col("words"), F.col("pred_tags"),
                       lambda w, p: F.concat_ws(" ", w, p))
    return sentences.select(
        "file", "sent_idx",
        F.concat(F.array_join(lines, "\n"), F.lit("\n")).alias("block"))


def write_predictions(sentences: DataFrame, path: str, n_files: int = 4) -> str:
    """``word pred`` lines, blank line between sentences
    (softner_ner_predict_from_file.py:628-643's writer contract)."""
    blocks = prediction_blocks(sentences)
    (blocks.repartitionByRange(n_files, "file", "sent_idx")
     .sortWithinPartitions("file", "sent_idx")
     .select("block")
     .write.mode("overwrite").text(path))
    return path
