"""Per-layer measurement for traced runs, taken from outside the engine:
timed calls into public functions, Spark's event log, and streaming
progress events."""

from __future__ import annotations

import json
import os
import pickle
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

PER_LAYER = {
    "setup.session_start_s": "s", "setup.tagger_load_s": "s",
    "setup.warmup_s": "s",
    "sources.pages.scan_s": "s", "sources.pages.bytes_read": "bytes",
    "operators.document_kernel.s": "s",
    "operators.document_kernel.boundary_s": "s",
    "operators.document_kernel.mentions": "count",
    "kernel.htmltext.ms_per_page": "ms",
    "kernel.sentencize.ms_per_page": "ms",
    "kernel.bio.ms_per_page": "ms", "kernel.bio.memo_hit_rate": "ratio",
    "operators.tagger.ms_per_page": "ms",
    "operators.tagger.memo_hit_rate": "ratio",
    "kernel.docconsist.ms_per_page": "ms",
    "kernel.conlleval.ms_per_page": "ms",
    "operators.link.s": "s", "operators.link.hit_rate": "ratio",
    "operators.triples.s": "s", "operators.triples.dedup_ratio": "ratio",
    "operators.triples.shuffle_write_bytes": "bytes",
    "plans.pipeline.extracted_s": "s", "plans.pipeline.sentences_s": "s",
    "plans.pipeline.mentions_s": "s", "plans.pipeline.linked_s": "s",
    "plans.pipeline.triples_s": "s", "plans.pipeline.bytes_written": "bytes",
    "plans.pipeline.jobs": "count",
    "streaming.ingest.add_batch_ms": "ms",
    "streaming.ingest.get_batch_ms": "ms",
    "streaming.ingest.query_planning_ms": "ms",
    "streaming.ingest.wal_commit_ms": "ms",
    "session.jobs": "count", "session.tasks": "count",
    "session.executor_run_s": "s", "session.executor_cpu_s": "s",
    "session.gc_s": "s", "session.shuffle_read_bytes": "bytes",
    "session.spill_bytes": "bytes", "session.peak_exec_mem_bytes": "bytes",
    "session.task_skew": "ratio",
    # traced minus untraced end-to-end metrics
    "overhead.pages_per_s": "1/s", "overhead.op_p50_ms": "ms",
    "overhead.op_tail_ms": "ms", "overhead.peak_rss_mb": "MB",
    "overhead.setup_s": "s",
}

TRIPLE_COLS = ["subj", "pred", "obj", "url"]


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written as JSON
    when the run ends."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------- event log

class EventLog:
    """Task metrics of an uncompressed, non-rolling Spark event log, grouped
    by the job description (``setJobDescription``) of the job that ran
    them."""

    def __init__(self, path: str):
        stage_desc: Dict[int, str] = {}
        self.jobs: Dict[str, int] = {}
        self.tasks: Dict[str, List[dict]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    self.jobs[desc] = self.jobs.get(desc, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics", {})
                    self.tasks.setdefault(
                        stage_desc.get(ev["Stage ID"], ""), []).append({
                            "stage": ev["Stage ID"],
                            "ms": info["Finish Time"] - info["Launch Time"],
                            "run_ms": m["Executor Run Time"],
                            "cpu_ns": m["Executor CPU Time"],
                            "gc_ms": m["JVM GC Time"],
                            "peak_mem": m["Peak Execution Memory"],
                            "spill": m["Memory Bytes Spilled"]
                            + m["Disk Bytes Spilled"],
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": m.get("Shuffle Write Metrics", {})
                            .get("Shuffle Bytes Written", 0),
                            "bytes_read": m.get("Input Metrics", {})
                            .get("Bytes Read", 0),
                        })

    def select(self, prefix: str) -> List[dict]:
        return [t for d, ts in self.tasks.items() if d.startswith(prefix)
                for t in ts]

    def job_count(self, prefix: str) -> int:
        return sum(n for d, n in self.jobs.items() if d.startswith(prefix))

    def total(self, prefix: str, key: str) -> float:
        return float(sum(t[key] for t in self.select(prefix)))


def session_metrics(log: EventLog, prefix: str, ops: int) -> Dict[str, float]:
    """Engine-level metrics of the timed ops' jobs, per op."""
    tasks = log.select(prefix)
    by_stage: Dict[int, List[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    # the kernel stage is the one that spends the most executor time
    kernel = max(by_stage.values(),
                 key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
    durations = [t["ms"] for t in kernel]
    med = statistics.median(durations) if durations else 0
    return {
        "session.jobs": log.job_count(prefix) / ops,
        "session.tasks": len(tasks) / ops,
        "session.executor_run_s": log.total(prefix, "run_ms") / 1e3 / ops,
        "session.executor_cpu_s": log.total(prefix, "cpu_ns") / 1e9 / ops,
        "session.gc_s": log.total(prefix, "gc_ms") / 1e3 / ops,
        "session.shuffle_read_bytes": log.total(prefix, "shuffle_read") / ops,
        "session.spill_bytes": log.total(prefix, "spill") / ops,
        "session.peak_exec_mem_bytes": float(max(
            (t["peak_mem"] for t in tasks), default=0)),
        "session.task_skew": max(durations) / med if med else 0.0,
    }


# ------------------------------------------------------------ prefix probes

def prefix_probe(bench, pages_dir: str, reps: int = 3) -> Dict[str, float]:
    """Time the flagship's layers on one input, each written to the noop
    sink under its own job description: the pruned scan and scan ->
    mentions (the kernel's time is their difference); then link over
    persisted mentions and triples over persisted linked rows, so neither
    holds kernel time. Those two are short: each is the median of ``reps``
    timings."""
    from collections import Counter

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from stackoverflowner_spark.operators import document_kernel as dk
    from stackoverflowner_spark.operators.link import link
    from stackoverflowner_spark.operators.triples import triples_from_linked
    from stackoverflowner_spark.sources.dictionary import build_dictionary_rows

    spark, pipe = bench.spark, bench.pipe

    def run(name, df, *extra):
        obs = Observation(name)
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra)
        spark.sparkContext.setJobDescription(f"pb:{name}")
        with bench.tracer.span(f"probe.{name}") as sp:
            df.write.format("noop").mode("overwrite").save()
        return sp["end"] - sp["start"], obs.get

    def mentions():
        return dk.pages_to_mentions_fused(
            bench.read_pages(pages_dir), pipe.tagger, pipe.lang_filter,
            doc_consistency=pipe.doc_consistency)

    def linked(m):
        return link(m, pipe.dictionary, pipe.link_strategy)

    scan_s, scan = run("scan", bench.read_pages(pages_dir)
                       .filter(F.col("lang") == "en")
                       .select("url", "html", "text"))
    mentions_s, m = run("mentions", mentions())

    # a mention joins every dictionary row of its alias: weight each linked
    # row by 1 / rows-per-alias to count linked mentions
    per_alias = Counter(r["alias_norm"] for r in build_dictionary_rows())
    weight = F.create_map(*[F.lit(x) for a, n in sorted(per_alias.items())
                            for x in (a, 1.0 / n)])
    spark.sparkContext.setJobDescription("pb:persist")
    cached_m = mentions().persist()
    cached_m.count()
    link_runs = [run("link", linked(cached_m), F.sum(F.element_at(
        weight, F.col("surface_norm"))).alias("mentions_linked"))
        for _ in range(reps)]
    # persisted only now: the link timings above would read this cache
    spark.sparkContext.setJobDescription("pb:persist")
    cached_l = linked(cached_m).persist()
    cached_l.count()
    triples_runs = [run("triples", triples_from_linked(
        cached_l, n_buckets=pipe.n_buckets)) for _ in range(reps)]
    cached_l.unpersist()
    cached_m.unpersist()
    lk, tr = link_runs[0][1], triples_runs[0][1]
    return {"scan_s": scan_s, "mentions_s": mentions_s,
            "link_s": statistics.median(s for s, _ in link_runs),
            "triples_s": statistics.median(s for s, _ in triples_runs),
            "reps": reps, "en_pages": scan["rows"], "mentions": m["rows"],
            "link_hit_rate": (lk["mentions_linked"] or 0) / m["rows"]
            if m["rows"] else 0.0,
            "linked_rows": lk["rows"], "triples": tr["rows"]}


def prefix_metrics(p: dict, log: EventLog, replay_ms_per_page: float
                   ) -> Dict[str, float]:
    kernel_run_s = (log.total("pb:mentions", "run_ms")
                    - log.total("pb:scan", "run_ms")) / 1e3
    return {
        "sources.pages.scan_s": p["scan_s"],
        "sources.pages.bytes_read": log.total("pb:scan", "bytes_read"),
        "operators.document_kernel.s": p["mentions_s"] - p["scan_s"],
        # executor time of the kernel stage beyond the kernel's own compute
        # for the same pages: Arrow serialization and Python-worker overhead
        "operators.document_kernel.boundary_s":
            kernel_run_s - replay_ms_per_page * p["en_pages"] / 1e3,
        "operators.document_kernel.mentions": float(p["mentions"]),
        "operators.link.s": p["link_s"],
        "operators.link.hit_rate": p["link_hit_rate"],
        "operators.triples.s": p["triples_s"],
        # distinct triples over the three emitted per linked row
        "operators.triples.dedup_ratio":
            p["triples"] / (3 * p["linked_rows"]) if p["linked_rows"] else 0.0,
        "operators.triples.shuffle_write_bytes":
            log.total("pb:triples", "shuffle_write") / p["reps"],
    }


def worker_memos(bench) -> List[dict]:
    """Entries in the sentence memo (``_tokenize_with_offsets``) and the
    tagger memo of each Python worker a small ``mapInPandas`` job reaches
    (the kernel's kind of worker), read after the timed ops. Shows whether
    a workload fills the memos' caps."""
    import pandas as pd

    from stackoverflowner_spark.operators.document_kernel import (
        _tagger_broadcast)

    bc = _tagger_broadcast(bench.spark, bench.tagger)

    def probe(batches):
        from stackoverflowner_spark.kernel.bio import _tokenize_with_offsets
        for _ in batches:
            pass
        info = _tokenize_with_offsets.cache_info()
        yield pd.DataFrame({
            "pid": [os.getpid()], "bio_entries": [info.currsize],
            "bio_misses": [info.misses],
            "tagger_entries": [len(bc.value.__dict__.get("_sent_cache")
                                   or {})]})

    n = 4 * len(os.sched_getaffinity(0))
    bench.spark.sparkContext.setJobDescription("pb:memos")
    rows = (bench.spark.range(n, numPartitions=n)
            .mapInPandas(probe, "pid long, bio_entries long, bio_misses long,"
                                " tagger_entries long").collect())
    return sorted({r["pid"]: r.asDict() for r in rows}.values(),
                  key=lambda r: r["pid"])


def checkpointed_metrics(out_root: str, started: float) -> Dict[str, float]:
    """Stage times from the lineage records' ``ts`` (each stage's record is
    written when its snapshot is complete) and bytes of the snapshots."""
    from stackoverflowner_spark.plans.pipeline import STAGES

    out, prev = {}, started
    for stage in STAGES:
        with open(os.path.join(out_root, f"_lineage_{stage}.json")) as f:
            ts = json.load(f)["ts"]
        out[f"plans.pipeline.{stage}_s"] = ts - prev
        prev = ts
    written = 0
    for d, _, files in os.walk(out_root):
        written += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    out["plans.pipeline.bytes_written"] = float(written)
    return out


def stream_metrics(progress: List[dict]) -> Dict[str, float]:
    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(statistics.median(vals)) if vals else 0.0
    return {"streaming.ingest.add_batch_ms": med("addBatch"),
            "streaming.ingest.get_batch_ms": med("getBatch"),
            "streaming.ingest.query_planning_ms": med("queryPlanning"),
            "streaming.ingest.wal_commit_ms": med("walCommit")}


# ------------------------------------------------------------ kernel replay

def kernel_replay(warm_rows: List[dict], rows: List[dict], tagger,
                  tracer: Tracer, batch_rows: int = 2048) -> Dict[str, float]:
    """Single-thread replay of ``rows`` through the fused kernel's public
    calls in its order (extract, sentencize, tokenize+BIO per page; tag per
    Arrow-sized batch; doc-consistency per page; chunk). Memos start as a
    fresh Python worker has them (sentence cache cleared, tagger unpickled
    from its broadcast form) and are then filled by an untimed pass over
    ``warm_rows``, standing in for the pages the workers already ran."""
    from stackoverflowner_spark.kernel.bio import _tokenize_with_offsets

    tagger = pickle.loads(pickle.dumps(tagger))
    _tokenize_with_offsets.cache_clear()
    with tracer.span("replay.warm"):
        _replay_pass(warm_rows, tagger, batch_rows, tracer)
    before = _tokenize_with_offsets.cache_info()
    with tracer.span("replay"):
        phase, pages, sentences, tagger_hits = _replay_pass(
            rows, tagger, batch_rows, tracer)
    info = _tokenize_with_offsets.cache_info()
    hits, misses = info.hits - before.hits, info.misses - before.misses
    out = {f"{k}.ms_per_page": v * 1e3 / max(pages, 1)
           for k, v in phase.items()}
    out["kernel.bio.memo_hit_rate"] = (
        hits / (hits + misses) if hits + misses else 0.0)
    out["operators.tagger.memo_hit_rate"] = (
        tagger_hits / sentences if sentences else 0.0)
    out["replay.ms_per_page"] = sum(phase.values()) * 1e3 / max(pages, 1)
    return out


def _replay_pass(rows, tagger, batch_rows, tracer):
    from stackoverflowner_spark.kernel.bio import sentence_token_tags
    from stackoverflowner_spark.kernel.conlleval import extract_chunks
    from stackoverflowner_spark.kernel.docconsist import doc_postpass
    from stackoverflowner_spark.kernel.htmltext import (ExtractionError,
                                                        extract_text)
    from stackoverflowner_spark.kernel.sentencize import sentencize
    from stackoverflowner_spark.kernel.sotok import TokenizerGuardError
    from stackoverflowner_spark.operators.document_kernel import MAX_HTML_BYTES

    phase = dict.fromkeys(("kernel.htmltext", "kernel.sentencize",
                           "kernel.bio", "operators.tagger",
                           "kernel.docconsist", "kernel.conlleval"), 0.0)
    sentences, tagger_hits, pages = 0, 0, 0
    clock = time.perf_counter
    for lo in range(0, len(rows), batch_rows):
        with tracer.span("replay.batch"):
            sents, groups = [], []
            for page in rows[lo:lo + batch_rows]:
                if page["lang"] != "en":
                    continue
                pages += 1
                t0 = clock()
                try:
                    if page["html"] is not None:
                        ext = extract_text(bytes(page["html"])[
                            :MAX_HTML_BYTES].decode("utf-8", "replace"))
                    else:
                        ext = (page["text"] or "")[:MAX_HTML_BYTES]
                    t1 = clock()
                    final, anns = sentencize(
                        ext, page["url"].rsplit("/", 1)[-1])
                    t2 = clock()
                    per_sent = sentence_token_tags(final, anns)
                    t3 = clock()
                except (ExtractionError, TokenizerGuardError):
                    continue
                phase["kernel.htmltext"] += t1 - t0
                phase["kernel.sentencize"] += t2 - t1
                phase["kernel.bio"] += t3 - t2
                groups.append((len(sents), len(sents) + len(per_sent)))
                sents.extend((t, m) for _, t, m in per_sent)
            # a hit is a sentence the tagger's own memo holds before the
            # call; repeats within the batch are decoded once, as misses
            memo = tagger.__dict__.get("_sent_cache") or {}
            tagger_hits += sum((tuple(t), tuple(m)) in memo for t, m in sents)
            sentences += len(sents)
            t0 = clock()
            tags = tagger.tag_sentences(sents) if sents else []
            t1 = clock()
            for a, b in groups:
                tags[a:b] = doc_postpass([t for t, _ in sents[a:b]],
                                         tags[a:b])
            t2 = clock()
            for sent_tags in tags:
                extract_chunks(sent_tags)
            t3 = clock()
            phase["operators.tagger"] += t1 - t0
            phase["kernel.docconsist"] += t2 - t1
            phase["kernel.conlleval"] += t3 - t2
    return phase, pages, sentences, tagger_hits


def read_rows(pages_dir: str, limit: Optional[int] = None) -> List[dict]:
    import pyarrow.parquet as pq

    rows: List[dict] = []
    for f in sorted(os.listdir(pages_dir)):
        if f.endswith(".parquet"):
            rows.extend(pq.read_table(os.path.join(pages_dir, f)).to_pylist())
        if limit is not None and len(rows) >= limit:
            return rows[:limit]
    return rows
