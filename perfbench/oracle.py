"""Reference triples without Spark, and the triple-set digest.

``page_triples`` restates the flagship for one page with the same public
kernel calls the fused kernel makes (lang filter, extract_text, sentencize,
sentence_token_tags, the tagger, doc_postpass, extract_chunks), then the
broadcast link (exact ``alias_norm`` match, cosine score >= 0.99 computed
as the left-to-right fold Spark runs) and the three triple predicates. The
engine's plumbing (Arrow batches, partitioning, joins, dedup shuffles,
micro-batches, checkpointed stages) is what it checks: a page's triples
depend on that page alone, so the distinct ``(subj, pred, obj, url)`` set
of a whole input is the union over its pages.
"""

from __future__ import annotations

import hashlib
import os
import sys
from concurrent.futures import ProcessPoolExecutor
from typing import Dict, Iterable, List, Set, Tuple

Triple = Tuple[str, str, str, str]

MIN_LINK_SCORE = 0.99  # link_broadcast's default threshold


def digest(triples: Iterable[Triple]) -> str:
    """Order-free digest of a distinct triple set: sha256 over the sorted
    tab-joined rows, plus the row count."""
    rows = sorted(set(triples))
    h = hashlib.sha256()
    for r in rows:
        h.update("\t".join(r).encode("utf-8"))
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def alias_index() -> Dict[str, Set[Tuple[str, str]]]:
    """alias_norm -> {(canonical_id, entity_type)} of the aliases whose
    link score clears the threshold."""
    import numpy as np

    from stackoverflowner_spark.kernel.ctc import hashed_embedding
    from stackoverflowner_spark.sources.dictionary import build_dictionary_rows

    out: Dict[str, Set[Tuple[str, str]]] = {}
    for row in build_dictionary_rows():
        q = hashed_embedding([row["alias_norm"]], dim=64)[0]
        emb = [float(np.float32(x)) for x in row["embedding"]]
        dot = 0.0
        for a, b in zip(q, emb):
            dot += float(a) * b
        norm = 0.0
        for b in emb:
            norm += b * b
        score = dot / max(norm ** 0.5, 1e-12)
        if score >= MIN_LINK_SCORE:
            out.setdefault(row["alias_norm"], set()).add(
                (row["canonical_id"], row["entity_type"]))
    return out


def page_triples(page: dict, tagger, aliases) -> Set[Triple]:
    from stackoverflowner_spark.kernel.bio import sentence_token_tags
    from stackoverflowner_spark.kernel.conlleval import extract_chunks
    from stackoverflowner_spark.kernel.docconsist import doc_postpass
    from stackoverflowner_spark.kernel.htmltext import (ExtractionError,
                                                        extract_text)
    from stackoverflowner_spark.kernel.sentencize import sentencize
    from stackoverflowner_spark.kernel.sotok import TokenizerGuardError
    from stackoverflowner_spark.operators.document_kernel import MAX_HTML_BYTES

    if page["lang"] != "en":
        return set()
    url, html, text = page["url"], page["html"], page["text"]
    try:
        if html is not None:
            extracted = extract_text(
                bytes(html)[:MAX_HTML_BYTES].decode("utf-8", "replace"))
        elif text is not None:
            extracted = text[:MAX_HTML_BYTES]
        else:
            return set()
        final, anns = sentencize(extracted, url.rsplit("/", 1)[-1])
        per_sent = sentence_token_tags(final, anns)
    except (ExtractionError, TokenizerGuardError):
        return set()
    if not per_sent:
        return set()
    tags = tagger.tag_sentences([(t, m) for _, t, m in per_sent])
    tags = doc_postpass([t for _, t, _ in per_sent], tags)
    out: Set[Triple] = set()
    for (_, toks, _), sent_tags in zip(per_sent, tags):
        for _typ, a, b in extract_chunks(sent_tags):
            surface = " ".join(toks[a:b]).lower()
            for cid, etype in aliases.get(surface, ()):
                out.add((cid, "instance_of", etype, url))
                out.add((cid, "mentioned_in", url, url))
                out.add((surface, "alias_of", cid, url))
    return out


_STATE: dict = {}


def _init_worker(paths: List[str]) -> None:
    for p in reversed(paths):
        if p not in sys.path:
            sys.path.insert(0, p)


def _pages_triples(job: Tuple[int, int, int]
                   ) -> Dict[Tuple[int, str], List[Triple]]:
    """Worker task: regenerate pages ``[first, first + n)`` of ``seed`` and
    return their triples by (seed, url)."""
    seed, first, n = job
    from stackoverflowner_spark.operators.tagger import default_tagger
    from stackoverflowner_spark.sources.pages import synth_page

    if not _STATE:
        _STATE["tagger"] = default_tagger()
        _STATE["aliases"] = alias_index()
    out = {}
    for i in range(first, first + n):
        page = synth_page(i, seed)
        out[(seed, page["url"])] = sorted(
            page_triples(page, _STATE["tagger"], _STATE["aliases"]))
    return out


def triples_by_url(spans: List[Tuple[int, int, int]], workers: int,
                   repo: str) -> Dict[Tuple[int, str], List[Triple]]:
    """Reference triples by (seed, url) for the pages ``(seed, first_id, n)``
    of every span, computed by ``workers`` spawned processes."""
    chunk = 200
    jobs = [(seed, first + i, min(chunk, n - i))
            for seed, first, n in spans for i in range(0, n, chunk)]
    out: Dict[Tuple[int, str], List[Triple]] = {}
    if not jobs:
        return out
    import multiprocessing as mp

    here = os.path.dirname(os.path.abspath(__file__))
    with ProcessPoolExecutor(max_workers=max(1, min(workers, len(jobs))),
                             mp_context=mp.get_context("spawn"),
                             initializer=_init_worker,
                             initargs=([here, repo],)) as pool:
        for part in pool.map(_pages_triples, jobs):
            out.update(part)
    return out


def reference_digests(w, seeds: List[int], ops: int, workers: int,
                      repo: str) -> Dict[Tuple[int, int], str]:
    """Digest of the reference triples of ops ``0 .. ops-1`` of workload
    ``w`` for every seed, by (seed, op)."""
    import workloads

    spans = []
    for seed in seeds:
        if w.pool:
            spans.append((seed, 0, w.pool))
        else:
            spans.extend((seed, k * workloads.OP_ID_STRIDE, w.rows_per_op)
                         for k in range(ops))
    by_url = triples_by_url(spans, workers, repo)
    out = {}
    for seed in seeds:
        for k in range(ops):
            urls = {r["url"] for r in workloads.op_rows(w, seed, k)}
            out[(seed, k)] = digest(t for u in urls
                                    for t in by_url[(seed, u)])
    return out
