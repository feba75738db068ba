"""End-to-end training-data curation pipeline over a documents table.

Composes the individually-oracled building blocks into the flow a real
LLM-data pipeline runs before training (each stage is the operator already
verified against DuckDB in the driver contract):

    lang-ID filter  ->  quality filter  ->  exact dedup  ->  MinHash/LSH
    near-dup clustering  ->  deterministic train/val/test split

Scale shape: every stage is declarative DataFrame work — the only shuffles
are the exact-dedup groupBy, the MinHash agg + band self-join, the
connected-components iterations over the (tiny) verified-pair graph, and
nothing corpus-sized ever reaches the driver. Decisions are pure functions
of content (md5 keys, seeded hashes), so a resumed or backfilled run makes
identical choices — the property that keeps incremental crawls consistent.

Every drop is attributable: ``curation_report`` returns one row per stage
with rows-in/rows-out, the same no-silent-drops discipline as the page
kernel's ok/err rows. ``curate_with_report`` shares ONE near-dup pass
between the curated output and the report (the persisted stage frontiers),
so curate+report costs one pipeline execution, not two.

``minhash_impl`` selects the near-dup stage: ``"fast"`` (default) is the
JVM xxhash64 MinHash scale path; ``"md5"`` is the engine-portable MinHash
twin every other engine (DuckDB oracle included) can replay bit-for-bit
(the two are recall/containment-gated against each other in
tests/test_dedup_fast.py); ``"simhash"`` swaps the whole
MinHash/LSH/Jaccard block for banded-Hamming simhash pairs (exact recall
by pigeonhole, oracled as `simhash_pairs`).
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import (lsh_candidate_pairs, minhash_signatures,
                    minhash_signatures_fast, ngram_jaccard_pairs,
                    normalized_text, simhash_pairs)
from .sampling import dedup_clusters, hash_split
from .textstats import with_lang_id, with_quality_score

SPLITS = [("train", 0.9), ("val", 0.05), ("test", 0.05)]


def _stage_frontiers(docs: DataFrame, lang: str, min_quality: float,
                     jaccard_threshold: float, minhash_impl: str,
                     simhash_bands: int = 4,
                     simhash_max_hamming: int = 3
                     ) -> Tuple[Dict[str, DataFrame], Dict[str, Observation]]:
    """The shared stage frontiers of the curation DAG, plus ``observe()``
    counters riding it.

    All lazy — nothing executes until a caller's first action (the r4
    eager-localCheckpoint surprise is gone). That first action over
    ``e_kept`` is also the ONLY job that touches the documents scan: the
    stage counts ride it as CollectMetrics nodes instead of separate
    ``.count()`` actions (r4 VERDICT #6: the standalone report cost up to
    four scan re-executions), and the exact-dedup keep decision is a
    min-over-window on the content hash — one scan + one shuffle, where
    the former ``exact_dedup`` + left-semi self-join read the scan twice
    per job (which would also have double-counted the observed metrics).
    The standalone ``exact_dedup`` operator stays the driver-oracled form.
    """
    obs = {"in": Observation(), "lang": Observation(),
           "q": Observation(), "e": Observation()}
    scored = with_quality_score(
        with_lang_id(docs.observe(obs["in"], F.count(F.lit(1)).alias("n"))))
    lang_kept = (scored.filter(F.col("lang_pred") == lang)
                 .observe(obs["lang"], F.count(F.lit(1)).alias("n")))
    q_kept = (lang_kept.filter(F.col("quality") >= min_quality)
              .observe(obs["q"], F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("_content_hash")
    e_kept = (q_kept.withColumn("_content_hash", F.md5(normalized_text()))
              .withColumn("_keep_id", F.min("doc_id").over(w))
              .filter(F.col("doc_id") == F.col("_keep_id"))
              .drop("_content_hash", "_keep_id")
              .observe(obs["e"], F.count(F.lit(1)).alias("n"))
              # e_kept feeds several consumers (signatures, jaccard
              # shingles, cluster ids, the survivor semi-join); cache it so
              # the lang/quality/dedup chain executes once, not once per
              # consumer. At real scale this is a staged parquet write
              # (exactly what plans/pipeline.py does between kernel stages).
              .persist())
    if minhash_impl == "simhash":
        # alternative near-dup stage: banded-Hamming simhash pairs (exact
        # recall by pigeonhole, driver-oracled as `simhash_pairs`) — one
        # fingerprint agg + block self-join instead of MinHash signatures +
        # band join + Jaccard verification. Cheaper at scale (no k-way
        # signature fanout), coarser notion of similarity (bit distance on
        # the sign-aggregated word-hash fingerprint).
        verified = simhash_pairs(e_kept, bands=simhash_bands,
                                 max_hamming=simhash_max_hamming)
    else:
        sig_fn = {"fast": minhash_signatures_fast,
                  "md5": minhash_signatures}[minhash_impl]
        sig = sig_fn(e_kept)
        cands = lsh_candidate_pairs(sig)
        verified = ngram_jaccard_pairs(e_kept, cands,
                                       threshold=jaccard_threshold)
    clusters = dedup_clusters(verified, e_kept.select("doc_id"))
    survivors = e_kept.join(clusters.filter(F.col("is_dup") == 0)
                            .select("doc_id"), "doc_id", "left_semi")
    return ({"lang_kept": lang_kept, "q_kept": q_kept, "e_kept": e_kept,
             "clusters": clusters, "survivors": survivors}, obs)


def curate_documents(docs: DataFrame, min_quality: float = 0.3,
                     jaccard_threshold: float = 0.7,
                     minhash_impl: str = "fast", simhash_bands: int = 4,
                     simhash_max_hamming: int = 3) -> DataFrame:
    """documents -> curated rows with a ``split`` column.

    Returns (doc_id, text, lang_pred, quality, split) for the surviving
    English documents, split by ``SPLITS``. Stage-by-stage:

    1. language filter on the predicted language (not the stored column —
       crawls lie) — `with_lang_id`, pure column expressions;
    2. quality floor — `with_quality_score`;
    3. exact dedup: keep the min id per identical normalized text;
    4. near-dup removal: MinHash -> LSH banding -> exact n-gram Jaccard
       verification -> connected components -> keep cluster min;
    5. deterministic hash split (backfill-stable).

    Cache note: the shared ``e_kept`` frontier inside the returned plan is
    ``persist()``-marked (it feeds both the near-dup chain and the survivor
    semi-join, so one action materializes the lang/quality/dedup prefix
    once). The cache entry lives until the caller drops the returned
    DataFrame — Spark's ContextCleaner then unpersists it — or the
    executors evict it under memory pressure; the report variants
    unpersist eagerly instead.
    """
    f, _ = _stage_frontiers(docs, "en", min_quality, jaccard_threshold,
                            minhash_impl, simhash_bands, simhash_max_hamming)
    return hash_split(f["survivors"], SPLITS).select(
        "doc_id", "text", "lang_pred", "quality", "split")


def _report_rows(f: Dict[str, DataFrame], obs: Dict[str, Observation]
                 ) -> List[Tuple[str, int, int]]:
    # ONE job touches the documents scan: this count materializes the
    # cached e_kept frontier and fires every upstream CollectMetrics node
    # in the same pass (n0-n3 were four separate scan-re-executing
    # .count() actions before r5)
    n3 = f["e_kept"].count()
    n0 = obs["in"].get["n"]
    n1 = obs["lang"].get["n"]
    n2 = obs["q"].get["n"]
    assert n3 == obs["e"].get["n"]
    n4 = f["clusters"].filter(F.col("is_dup") == 0).count()
    return [("lang_filter", n0, n1), ("quality_filter", n1, n2),
            ("exact_dedup", n2, n3), ("near_dup", n3, n4)]


def _report_df(spark, rows: List[Tuple[str, int, int]]) -> DataFrame:
    return spark.createDataFrame(
        [(s, a, b, a - b) for s, a, b in rows],
        "stage string, rows_in long, rows_out long, dropped long")


def curation_report(docs: DataFrame, min_quality: float = 0.3,
                    jaccard_threshold: float = 0.7,
                    minhash_impl: str = "fast", simhash_bands: int = 4,
                    simhash_max_hamming: int = 3) -> DataFrame:
    """One row per curation stage: (stage, rows_in, rows_out, dropped).

    Each stage count anti-joins nothing and samples nothing — every dropped
    document is attributable to exactly one stage. Use
    ``curate_with_report`` when the curated rows are also needed; this
    standalone form runs the stage DAG for the counts only (one scan pass
    for n0-n3 via observe counters, plus the near-dup jobs for n4).
    """
    f, obs = _stage_frontiers(docs, "en", min_quality, jaccard_threshold,
                              minhash_impl, simhash_bands,
                              simhash_max_hamming)
    try:
        rows = _report_rows(f, obs)
    finally:
        f["e_kept"].unpersist(blocking=False)
    return _report_df(docs.sparkSession, rows)


def curate_with_report(docs: DataFrame, lang: str = "en",
                       min_quality: float = 0.3,
                       jaccard_threshold: float = 0.7,
                       minhash_impl: str = "fast",
                       materialize=None) -> DataFrame:
    """Run curation ONCE and return the report; ``materialize(curated)``
    (e.g. a parquet write) consumes the curated rows from the same persisted
    frontiers, so the expensive near-dup stage never executes twice."""
    f, obs = _stage_frontiers(docs, lang, min_quality, jaccard_threshold,
                              minhash_impl)
    # e_kept is persisted by _stage_frontiers; clusters feeds the near-dup
    # count and the survivor semi-join, so persist it too — every count and
    # the curated output then read the one materialized near-dup pass.
    clusters = f["clusters"].persist()
    f = dict(f, clusters=clusters)
    survivors = f["e_kept"].join(clusters.filter(F.col("is_dup") == 0)
                                 .select("doc_id"), "doc_id", "left_semi")
    try:
        rows = _report_rows(f, obs)
        if materialize is not None:
            curated = hash_split(survivors, SPLITS).select(
                "doc_id", "text", "lang_pred", "quality", "split")
            materialize(curated)
    finally:
        f["e_kept"].unpersist(blocking=False)
        clusters.unpersist(blocking=False)
    return _report_df(docs.sparkSession, rows)
