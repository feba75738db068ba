"""Distributed document kernel: pages -> extracted -> sentences -> mentions.

This is the engine's hot path. Everything per-document is row-local, so the
whole chain is *narrow* — pages are read, one ``mapInPandas`` runs the text
kernel, and downstream token/mention tables are derived with narrow
``posexplode``s. The first shuffle in the flagship pipeline happens only at
triple aggregation. At 100 TB that matters more than anything else: no
sentence-regroup shuffle exists because tokens never leave their sentence row
until they are exploded for purely columnar consumers.

The page loop itself is the Spark-free ``kernel/document.py``; the
``mapInPandas`` bodies here only attach Spark columns to its results.

Stage mirror of the reference trace (SURVEY.md §3.1):
  extract   = Extract_Text_From_XML + tokenize_and_annotae_post_body
  sentences = convert_standoff_to_conll (stokenizer + map_text_to_char + relabel)
  mentions  = gazetteer/model tagger + chunk extraction
"""

from __future__ import annotations

from itertools import groupby
from operator import attrgetter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.bio import text_to_conll_rows
from ..kernel.document import (  # noqa: F401  (MAX_HTML_BYTES: public here)
    MAX_HTML_BYTES, PageError, mention_rows, page_batch_mentions, read_page)
from ..kernel.sentencize import Standoff
from ..kernel.sotok import TokenizerGuardError
from ..session import AppCache

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("lang", T.StringType(), True),
    T.StructField("final_text", T.StringType(), True),
    T.StructField("anns", T.ArrayType(T.StructType([
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("type", T.StringType()),
        T.StructField("text", T.StringType()),
    ])), True),
    T.StructField("ok", T.BooleanType(), False),
    T.StructField("err", T.StringType(), True),
    T.StructField("truncated", T.BooleanType(), False),
])

SENTENCES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("sent_idx", T.IntegerType(), False),
    T.StructField("tokens", T.ArrayType(T.StringType()), False),
    T.StructField("md_tags", T.ArrayType(T.StringType()), False),
    T.StructField("starts", T.ArrayType(T.IntegerType()), False),
    T.StructField("ends", T.ArrayType(T.IntegerType()), False),
])

MENTIONS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("sent_idx", T.IntegerType(), False),
    T.StructField("tok_start", T.IntegerType(), False),
    T.StructField("tok_end", T.IntegerType(), False),
    T.StructField("surface", T.StringType(), False),
    T.StructField("surface_norm", T.StringType(), False),
    T.StructField("tag_type", T.StringType(), False),
])
MENTION_COLS = MENTIONS_SCHEMA.fieldNames()


def page_bodies(pages: DataFrame, lang_filter: str | None, *extra: str
                ) -> DataFrame:
    """The kernel's input ``(url, *extra, html, text)``. text is nulled
    where html exists, so the Arrow crossing ships one body per row, not
    two (rows commonly carry both; this cuts Python-side ingress ~40%).
    Built from SQL strings, as link and triples are: each ``functions``/
    ``Column`` call costs the driver several py4j round trips per op."""
    if lang_filter:
        lit = lang_filter.replace("\\", "\\\\").replace("'", "\\'")
        pages = pages.filter(f"lang = '{lit}'")
    return pages.selectExpr(
        "url", *extra, "html", "CASE WHEN html IS NULL THEN text END AS text")


def extract_stage(pages: DataFrame, lang_filter: str | None = "en") -> DataFrame:
    """pages -> extracted. Column-pruned scan: only (url, html, text, lang)
    are read; the lang filter is pushed to the parquet scan before the UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, lang, html, text in zip(pdf["url"], pdf["lang"],
                                             pdf["html"], pdf["text"]):
                try:
                    final, anns, trunc = read_page(url, html, text)
                except PageError as e:
                    out.append((url, lang, None, None, False, f"extract:{e}",
                                e.truncated))
                    continue
                out.append((url, lang, final,
                            [(a.start, a.end, a.type, a.text) for a in anns],
                            True, None, trunc))
            yield pd.DataFrame(out, columns=EXTRACTED_SCHEMA.fieldNames())

    return page_bodies(pages, lang_filter, "lang").mapInPandas(
        run, schema=EXTRACTED_SCHEMA)


def sentences_stage(extracted: DataFrame) -> DataFrame:
    """extracted -> one row per sentence with aligned token/tag/offset arrays.

    Tokenizer-guard failures drop the whole document (the reference skips the
    file, anntoconll.py:265-269) and surface as rows with sent_idx == -1 so
    lineage can count them; callers filter ``sent_idx >= 0``.
    """
    rows = extracted.filter(F.col("ok")).select("url", "final_text", "anns")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, final_text, anns in zip(pdf["url"], pdf["final_text"], pdf["anns"]):
                spans = [Standoff(int(a["start"]), int(a["end"]), a["type"], a["text"])
                         for a in anns]
                try:
                    conll = text_to_conll_rows(final_text, spans)
                except TokenizerGuardError:
                    out.append((url, -1, [], [], [], []))
                    continue
                for sent_idx, rs in groupby(conll, key=attrgetter("sent_idx")):
                    _, _, toks, tags, starts, ends = map(list, zip(*rs))
                    out.append((url, sent_idx, toks, tags, starts, ends))
            yield pd.DataFrame(
                out, columns=["url", "sent_idx", "tokens", "md_tags", "starts", "ends"])

    return rows.mapInPandas(run, schema=SENTENCES_SCHEMA)


def tokens_long(sentences: DataFrame) -> DataFrame:
    """Narrow explode to the token-level long table
    ``(url, sent_idx, tok_idx, token, md_tag, start, end)``."""
    z = sentences.filter(F.col("sent_idx") >= 0).select(
        "url", "sent_idx",
        F.posexplode(F.arrays_zip("tokens", "md_tags", "starts", "ends"))
        .alias("tok_idx", "z"),
    )
    return z.select(
        "url", "sent_idx", "tok_idx",
        F.col("z.tokens").alias("token"),
        F.col("z.md_tags").alias("md_tag"),
        F.col("z.starts").alias("start"),
        F.col("z.ends").alias("end"),
    )


# id(tagger) -> (weak tagger ref, Broadcast, token) per application
_TAGGER_BC = AppCache(8)

_HEAP_FROZEN = False
_WORKER_TAGGER = (None, None)  # (token, tagger) this worker holds


def _freeze_worker_heap() -> None:
    """``gc.collect(); gc.freeze()`` once per Python worker process, right
    after a kernel UDF's first ``bc.value``.

    PySpark's daemon runs a full ``gc.collect()`` after every task
    (``pyspark/daemon.py``), and an engine worker's heap is mostly
    long-lived: modules, their functions and classes, the tagger. Frozen
    objects move to the permanent generation, so that collection and the
    kernel's own gen-2 passes walk only what was created since. Refcounting
    still frees frozen objects; memo entries added later stay collectable.
    """
    global _HEAP_FROZEN
    if not _HEAP_FROZEN:
        import gc
        gc.collect()
        gc.freeze()
        _HEAP_FROZEN = True


def _worker_tagger(bc, token):
    """The tagger of broadcast ``bc`` in this worker, unpickled only when
    the worker does not hold the one minted with ``token`` yet.

    A Python task that does not use ``bc`` makes Spark drop it from the
    worker's broadcast registry, and the next ``bc.value`` would unpickle
    a new tagger: with an empty sentence memo, a rebuilt ``_ctx_vecs``
    (~0.12 s), and none of the page memo's rows stamped with it. The
    worker-side ``Broadcast`` carries only a file path, so the driver
    mints ``token`` with the broadcast and the UDFs capture it."""
    global _WORKER_TAGGER
    if _WORKER_TAGGER[0] != token:
        _WORKER_TAGGER = (token, bc.value)
        _freeze_worker_heap()
    return _WORKER_TAGGER[1]


def _ship_tagger(spark, tagger):
    """``(Broadcast, token)`` of ``tagger`` for this application: the
    tagger ships as an explicit Broadcast instead of a task-closure
    capture, and ``token`` names it for ``_worker_tagger``.

    A learned tagger artifact is tens of MB of pickled numpy; captured in
    the UDF closure it is re-deserialized PER TASK, and at local[32] the 32
    concurrent cold unpickles (plus per-task cold feature caches) measured
    4-10x on the whole flagship versus this path — a worker unpickles the
    broadcast value once and keeps it across tasks AND jobs
    (``_worker_tagger``), so the tagger's executor-local caches survive
    with it. Weakly keyed per (application, tagger) so repeated pipeline
    calls reuse one broadcast; the weakref check keeps a new tagger that
    got a dead one's id() from being handed its broadcast.

    Spark pickles the value at protocol 5. The structured model ships its
    weights packed (``StructuredPerceptron.__getstate__``: feature keys plus
    one float64 matrix, rebuilt as row views), so a worker's unpickle adds a
    handful of GC-tracked objects instead of ~168k, and ``_worker_tagger``
    then calls ``_freeze_worker_heap`` once per worker.
    """
    import uuid
    import weakref

    hit = _TAGGER_BC.get(spark, id(tagger))
    if hit is not None and hit[0]() is tagger:
        return hit[1:]
    shipped = spark.sparkContext.broadcast(tagger), uuid.uuid4().hex
    _TAGGER_BC.put(spark, id(tagger), (weakref.ref(tagger), *shipped))
    return shipped


def _tagger_broadcast(spark, tagger):
    """The ``Broadcast`` that ``_ship_tagger`` ships ``tagger`` in."""
    return _ship_tagger(spark, tagger)[0]


def pages_to_mentions_fused(pages: DataFrame, tagger,
                            lang_filter: str | None = "en",
                            doc_consistency: bool = False) -> DataFrame:
    """Single-pass hot path: pages -> mentions in ONE mapInPandas.

    Same logical result as extract_stage |> sentences_stage |> mentions_stage
    (asserted in tests), but one Arrow crossing instead of three — at scale
    the kernel chain is store-and-forward per batch, so every extra hop adds
    a serialization round trip plus a Python worker in the task pipeline.
    The modular stages remain the checkpointed path (plans/pipeline.py).

    ``doc_consistency=True`` runs the document-level label-consistency
    post-pass (kernel/docconsist.py) on each page's tagged sentences before
    chunk extraction — a page IS the document and every page row is whole
    inside its Arrow batch, so the pass costs zero shuffle. Off by default
    here (the raw fused kernel stays bitwise-equal to the modular stage
    chain); KGPipeline enables it on both of its paths.
    """
    bc, token = _ship_tagger(pages.sparkSession, tagger)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = _worker_tagger(bc, token)
        for pdf in batches:
            urls = pdf["url"].tolist()
            rows, _counts = page_batch_mentions(
                urls, pdf["html"], pdf["text"], tagger, doc_consistency)
            yield pd.DataFrame([(urls[r[0]],) + r[1:] for r in rows],
                               columns=MENTION_COLS)

    return page_bodies(pages, lang_filter).mapInPandas(
        run, schema=MENTIONS_SCHEMA)


def mentions_stage(sentences: DataFrame, tagger) -> DataFrame:
    """sentences -> mention spans using a row-local tagger.

    ``tagger`` is any ``Tagger`` from operators.tagger (gazetteer default,
    model-pluggable per SURVEY.md §7 step 5). Row-local => narrow; the tagger
    ships as an explicit broadcast, unpickled once per worker
    (see _ship_tagger), and decodes each Arrow batch in one
    ``tag_sentences`` call, as the fused kernel does.
    """
    rows = sentences.filter(F.col("sent_idx") >= 0)
    bc, token = _ship_tagger(sentences.sparkSession, tagger)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = _worker_tagger(bc, token)
        for pdf in batches:
            sents = [(list(t), list(m))
                     for t, m in zip(pdf["tokens"], pdf["md_tags"])]
            out = []
            for url, sent_idx, (tokens, _m), tags in zip(
                    pdf["url"], pdf["sent_idx"], sents,
                    tagger.tag_sentences(sents)):
                out.extend(mention_rows((url, int(sent_idx)), tokens, tags))
            yield pd.DataFrame(out, columns=MENTION_COLS)

    return rows.mapInPandas(run, schema=MENTIONS_SCHEMA)
