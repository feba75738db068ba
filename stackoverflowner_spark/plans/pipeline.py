"""End-to-end KG-construction plan with checkpointed, resumable stages.

Flagship DAG (SURVEY.md §3.1 Spark restatement):

    pages -> [extract] -> [sentences] -> [mentions] -> [link] -> triples

Two execution modes:

* ``run_fused`` — one lazy DAG, no intermediate materialization. The chain
  pages->mentions is narrow (document_kernel), link is a broadcast join, so
  the only shuffles are the triple dedup aggregations. This is the
  throughput path used by bench.py.
* ``run_checkpointed`` — every stage writes a parquet snapshot partitioned by
  ``bucket = pmod(xxhash64(url), n_buckets)`` plus a lineage record
  (per-bucket row counts + status). A re-run anti-joins completed buckets and
  recomputes only missing ones — the north-rule resume contract ("any failed
  partition range resumes without recompute"). On a real deployment the
  parquet snapshot directory becomes an Iceberg table and the lineage file an
  Iceberg snapshot property; the logic is identical.
"""

from __future__ import annotations

import json
import os
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import document_kernel as dk
from ..operators.link import link
from ..operators.tagger import Tagger, default_tagger
from ..operators.triples import triples_from_linked
from ..sources.dictionary import dictionary_df

STAGES = ["extracted", "sentences", "mentions", "linked", "triples"]


class Lineage:
    """Per-stage, per-bucket completion records (JSON-file backed)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, f"_lineage_{stage}.json")

    def completed(self, stage: str) -> Dict[int, int]:
        p = self._path(stage)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            data = json.load(f)
        return {int(k): v for k, v in data.get("buckets", {}).items()}

    def record(self, stage: str, bucket_counts: Dict[int, int],
               metrics: Optional[dict] = None) -> None:
        done = self.completed(stage)
        done.update(bucket_counts)
        prev = {}
        if os.path.exists(self._path(stage)):
            with open(self._path(stage)) as f:
                prev = json.load(f).get("metrics", {})
        if metrics:
            prev.update({k: prev.get(k, 0) + v for k, v in metrics.items()})
        # atomic rename: a crash mid-write must never leave truncated JSON,
        # or completed() raises and the resume contract is unusable
        tmp = self._path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"stage": stage, "ts": time.time(),
                       "buckets": {str(k): v for k, v in done.items()},
                       "metrics": prev}, f)
        os.replace(tmp, self._path(stage))


class KGPipeline:
    def __init__(self, spark: SparkSession, out_root: str,
                 n_buckets: int = 16, tagger: Optional[Tagger] = None,
                 lang_filter: Optional[str] = "en",
                 link_strategy: str = "broadcast"):
        self.spark = spark
        self.out_root = out_root
        self.n_buckets = n_buckets
        self.tagger = tagger or default_tagger()
        self.lang_filter = lang_filter
        self.link_strategy = link_strategy
        # document-level label-consistency post-pass (kernel/docconsist.py):
        # in-kernel on the fused path (zero shuffle), declarative
        # propagate_mentions on the modular path — same result, gated in
        # tests/test_spark_pipeline.py::test_checkpoint_resume_no_recompute
        self.doc_consistency = True
        self.dictionary = dictionary_df(spark)
        self.lineage = Lineage(out_root)

    # ------------------------------------------------------------------ #

    def _mentions_stage(self, sentences: DataFrame) -> DataFrame:
        m = dk.mentions_stage(sentences, self.tagger)
        if self.doc_consistency:
            from ..operators.consistency import propagate_mentions
            toks = dk.tokens_long(sentences).select(
                "url", "sent_idx", F.col("tok_idx").alias("pos"), "token")
            m = propagate_mentions(m, toks)
        return m

    def _stage_fns(self) -> List[tuple]:
        return [
            ("extracted", lambda df: dk.extract_stage(df, self.lang_filter)),
            ("sentences", dk.sentences_stage),
            ("mentions", self._mentions_stage),
            ("linked", lambda df: link(df, self.dictionary, self.link_strategy)),
            ("triples", lambda df: triples_from_linked(df, n_buckets=self.n_buckets)),
        ]

    def build_fused(self, pages: DataFrame) -> DataFrame:
        """One Arrow crossing for the whole document kernel, then broadcast
        link + triple dedup. Logical result identical to the modular stage
        chain (asserted in tests/test_spark_pipeline.py)."""
        mentions = dk.pages_to_mentions_fused(
            pages, self.tagger, self.lang_filter,
            doc_consistency=self.doc_consistency)
        linked = link(mentions, self.dictionary, self.link_strategy)
        return triples_from_linked(linked, n_buckets=self.n_buckets)

    def run_fused(self, pages: DataFrame) -> DataFrame:
        return self.build_fused(pages)

    # ------------------------------------------------------------------ #

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int"))

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.out_root, stage)

    def run_checkpointed(self, pages: DataFrame,
                         fail_after_stage: Optional[str] = None) -> str:
        """Run stage by stage with bucket-level resume. Returns the triples
        path. ``fail_after_stage`` aborts after that stage's snapshot (test
        hook for the kill/resume gate)."""
        prev_path: Optional[str] = None
        for stage, fn in self._stage_fns():
            done = set(self.lineage.completed(stage))
            todo = [b for b in range(self.n_buckets) if b not in done]
            out_path = self._stage_path(stage)
            if todo:
                if prev_path is None:
                    src = self._bucketed(pages)
                else:
                    src = self.spark.read.parquet(prev_path)
                if done:
                    src = src.filter(F.col("bucket").isin(todo))
                # scrub partition dirs of unrecorded (crashed mid-write)
                # buckets so append stays idempotent — Iceberg snapshots make
                # this unnecessary on a real deployment
                import shutil
                for b in todo:
                    part_dir = os.path.join(out_path, f"bucket={b}")
                    if os.path.exists(part_dir):
                        shutil.rmtree(part_dir)
                result = fn(src)
                # stage functions select their own columns; re-derive the
                # resume key (url-hash bucket) on the result
                result = result.withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int"))
                # A12 counters: observed during the write, no extra pass
                from pyspark.sql import Observation
                obs = Observation(f"{stage}_metrics")
                metrics_cols = [F.count(F.lit(1)).alias("rows_written")]
                if "ok" in result.columns:
                    metrics_cols.append(
                        F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                        .alias("failed_rows"))
                result = result.observe(obs, *metrics_cols)
                (result.write.mode("append").partitionBy("bucket")
                 .parquet(out_path))
                observed = {k: int(v) for k, v in obs.get.items()}
                counts = {
                    int(r["bucket"]): int(r["count"])
                    for r in self.spark.read.parquet(out_path)
                    .filter(F.col("bucket").isin(todo))
                    .groupBy("bucket").count().collect()
                }
                for b in todo:
                    counts.setdefault(b, 0)
                self.lineage.record(stage, counts, metrics=observed)
            prev_path = out_path
            if fail_after_stage == stage:
                raise RuntimeError(f"injected failure after stage {stage}")
        return self._stage_path("triples")
