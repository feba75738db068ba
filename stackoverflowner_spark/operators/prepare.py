"""Prepared-example construction (BiLSTM path, SURVEY.md §1.1 / J6).

``prepare_dataset`` (`/root/reference/code/Attentive_BiLSTM/loader_so.py:469-506`)
turns each sentence into int-id arrays: word ids (lowercased lookup with
``<UNK>``), char ids (unknown chars skipped), cap feature 0-3, tag ids, plus
auxiliary ctc/seg channels.

Scale contract (fixes the r01 driver-collect anti-pattern): the WORD mapping
is unbounded at web scale (10^7-10^8 rows at freq>=3 on a 100 TB corpus) and
therefore stays a DataFrame end-to-end — tokens are exploded, joined against
the mapping (AQE broadcasts it only when it measures small), and regrouped
per sentence. Only the CHAR and TAG vocabularies are collected to the driver:
both are intrinsically bounded domains (distinct codepoints / tag-scheme
labels), not corpus-proportional.
"""

from __future__ import annotations

from typing import Dict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..kernel.tagscheme import cap_class

UNK = "<UNK>"
PAD = "<PAD>"
UNK_ID = 1  # <PAD>=0, <UNK>=1; corpus words start at 2 (loader_so.py:319-336)

# most-recent partitioned_rank frontier still persisted (see cleanup note
# in partitioned_rank)
_LIVE_CACHED: list = []


def partitioned_rank(df: DataFrame, order_by, id_col: str = "rank",
                     offset: int = 0, partitions: int | None = None
                     ) -> DataFrame:
    """Global 1-based dense rank over a deterministic total order WITHOUT a
    single-partition window (the zipWithIndex scheme): range-partition on
    the ordering key, rank each partition with a PARALLEL window, and add
    cumulative partition offsets from a tiny per-partition-count job
    (P rows to the driver). Ids are bit-identical to a global
    ``row_number`` for ANY range-boundary sampling, because the ordering
    key is total and unique per row and range partitions are ordered by
    construction. ``order_by`` must therefore be a unique key per row.

    At a 100 TB corpus the pruned vocabulary is 10^7-10^8 rows; a global
    window would serialize it through one task (the r02 scale flag,
    VERDICT #4) — here every stage stays parallel and only P counts ever
    reach the driver.
    """
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    # persist the post-shuffle rows: the sizes job and the main pass both
    # read them, and they are vocab-sized, never corpus-sized. Generation
    # cleanup: a long-lived session calling this repeatedly would otherwise
    # accumulate one cached vocab frontier per call — unpersist the previous
    # call's frontier here (its consumers recompute deterministically from
    # the shuffle if re-used later).
    while _LIVE_CACHED:
        _LIVE_CACHED.pop().unpersist(blocking=False)
    ranged = (df.repartitionByRange(p, *order_by)
              .withColumn("_pid", F.spark_partition_id())
              .persist())
    _LIVE_CACHED.append(ranged)
    sizes = {r["_pid"]: r["cnt"] for r in
             ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = offset
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))])
    wlocal = Window.partitionBy("_pid").orderBy(*order_by)
    return ranged.withColumn(
        id_col, off_map[F.col("_pid")] + F.row_number().over(wlocal)
    ).drop("_pid")


def word_mapping_df(sentences: DataFrame, min_freq: int = 3) -> DataFrame:
    """Distributed lowercased word -> id mapping ordered by (-freq, word);
    ids start at 2, reserving <PAD>=0 / <UNK>=1 like the reference's
    huge-count sentinel trick (loader_so.py:319-336, utils_so.py:68-76).
    Id assignment is the two-pass ``partitioned_rank`` — no
    single-partition Exchange anywhere in the plan (gated in tests)."""
    counts = (
        sentences.select(F.explode("words").alias("w"))
        .select(F.lower("w").alias("word"))
        .groupBy("word").agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    ranked = partitioned_rank(counts, [F.desc("freq"), F.asc("word")],
                              id_col="word_id", offset=1)
    return ranked.select("word", F.col("word_id").cast("int").alias("word_id"))


def build_char_mapping(sentences: DataFrame) -> Dict[str, int]:
    """Char -> id (driver dict: the domain is distinct codepoints, bounded
    irrespective of corpus size; loader_so.py:339-349)."""
    counts = (
        sentences.select(F.explode("words").alias("w"))
        .select(F.explode(F.split("w", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("c").count()
        .withColumn("item_id",
                    F.row_number().over(Window.orderBy(F.desc("count"), F.asc("c"))))
        .collect()
    )
    return {r["c"]: r["item_id"] - 1 for r in counts}


def build_tag_mapping(sentences: DataFrame) -> Dict[str, int]:
    """Tag -> id (driver dict: the domain is the tag scheme, ~41 labels)."""
    counts = (
        sentences.select(F.explode("tags").alias("t"))
        .groupBy("t").count()
        .withColumn("item_id",
                    F.row_number().over(Window.orderBy(F.desc("count"), F.asc("t"))))
        .collect()
    )
    return {r["t"]: r["item_id"] - 1 for r in counts}


PREPARED_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("str_words", T.ArrayType(T.StringType())),
    T.StructField("word_ids", T.ArrayType(T.IntegerType())),
    T.StructField("char_ids", T.ArrayType(T.ArrayType(T.IntegerType()))),
    T.StructField("caps", T.ArrayType(T.IntegerType())),
    T.StructField("tag_ids", T.ArrayType(T.IntegerType())),
])


def prepare_dataset(sentences: DataFrame, spark: SparkSession,
                    word_mapping: DataFrame, char_map: Dict[str, int],
                    tag_map: Dict[str, int]) -> DataFrame:
    """sentence rows (file, sent_idx, words, tags) -> prepared int arrays.

    Unknown words -> <UNK> id 1; unknown chars skipped (loader_so.py:485-488);
    cap feature computed on the raw word (loader_so.py:365-380).

    Plan shape: explode tokens -> join word_mapping on lower(word) (the only
    corpus-sized lookup; no broadcast hint — AQE decides) -> per-token char /
    cap / tag columns -> regroup per sentence via sort_array(collect_list).
    Two shuffles total (join + regroup), both on bounded-size rows; nothing
    corpus-sized ever reaches the driver.
    """
    bc = spark.sparkContext.broadcast(dict(char_map))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def char_ids_of(words: pd.Series) -> pd.Series:
        cmap = bc.value
        return words.map(
            lambda w: [] if w is None else [cmap[c] for c in w if c in cmap])

    @F.pandas_udf(T.IntegerType())
    def cap_of(words: pd.Series) -> pd.Series:
        return words.map(lambda w: 0 if w is None else cap_class(w)).astype("int32")

    tag_items = [x for kv in tag_map.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    tag_lookup = F.create_map(*tag_items) if tag_items else F.create_map()

    toks = sentences.select(
        "file", "sent_idx",
        F.posexplode(F.arrays_zip("words", "tags")).alias("pos", "z"),
    ).select(
        "file", "sent_idx", "pos",
        F.col("z.words").alias("word"),
        F.col("z.tags").alias("tag"),
    )
    looked = (
        toks.withColumn("word_lc", F.lower("word"))
        .join(word_mapping.withColumnRenamed("word", "word_lc"), "word_lc", "left")
        .select(
            "file", "sent_idx", "pos", "word",
            F.coalesce("word_id", F.lit(UNK_ID)).cast("int").alias("word_id"),
            char_ids_of("word").alias("cids"),
            cap_of("word").alias("cap"),
            F.coalesce(tag_lookup[F.col("tag")], F.lit(0)).cast("int").alias("tag_id"),
        )
    )
    grouped = (
        looked.groupBy("file", "sent_idx")
        .agg(F.sort_array(F.collect_list(F.struct(
            "pos", "word", "word_id", "cids", "cap", "tag_id"))).alias("ts"))
    )
    out = grouped.select(
        "file", "sent_idx",
        F.expr("transform(ts, t -> t.word)").alias("str_words"),
        F.expr("transform(ts, t -> t.word_id)").alias("word_ids"),
        F.expr("transform(ts, t -> t.cids)").alias("char_ids"),
        F.expr("transform(ts, t -> t.cap)").alias("caps"),
        F.expr("transform(ts, t -> t.tag_id)").alias("tag_ids"),
    )
    # posexplode emits no rows for an empty words array, so the regroup
    # would silently drop empty sentences; re-emit them with empty arrays
    # (narrow union — no extra shuffle, unlike a keys left-join).
    empties = sentences.filter(
        F.coalesce(F.size("words"), F.lit(0)) == 0).select(
        "file", "sent_idx",
        F.expr("cast(array() as array<string>)").alias("str_words"),
        F.expr("cast(array() as array<int>)").alias("word_ids"),
        F.expr("cast(array() as array<array<int>>)").alias("char_ids"),
        F.expr("cast(array() as array<int>)").alias("caps"),
        F.expr("cast(array() as array<int>)").alias("tag_ids"),
    )
    return out.unionByName(empties)
