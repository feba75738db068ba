"""Spark-free per-document kernel: the engine's one copy of the page loop.

The reference's per-post chain (E2E_SoftNER.py:149-195): extract with
sentinel substitution, Punkt sentencize, tokenize + BIO, tag, document-level
label consistency, chunk. ``extract_stage`` and ``pages_to_mentions_fused``
(operators/document_kernel.py) are the ``mapInPandas`` glue over this
module.
"""

from __future__ import annotations

import weakref
from hashlib import blake2b
from itertools import groupby
from operator import itemgetter
from typing import Dict, Iterator, List, Sequence, Tuple

from .bio import sentence_token_tags
from .conlleval import extract_chunks
from .docconsist import doc_postpass
from .htmltext import ExtractionError, extract_text
from .memo import FifoMemo
from .sentencize import Standoff, sentencize
from .sotok import TokenizerGuardError

MAX_HTML_BYTES = 2_000_000
"""Spill policy for pathological pages (SURVEY.md §4 'giant pages bounded'):
bodies above this cap are truncated at the cap before extraction and the row
is countable via the `truncated` observation column in extract_stage. A 2 MB
html body is ~50x the Common-Crawl median; beyond it the text is boilerplate
with vanishing mention yield, and unbounded rows are what OOM executors."""

# each page lands in exactly one of ok / null_row / extract_error /
# tokenizer_guard; truncated flags capped pages on top of that
COUNT_KEYS = ("pages", "ok", "null_row", "extract_error", "tokenizer_guard",
              "truncated")


class PageError(ExtractionError):
    """A page row that yields no text; ``reason`` is its drop counter."""

    def __init__(self, msg: str, reason: str, truncated: bool = False):
        super().__init__(msg)
        self.reason = reason
        self.truncated = truncated


def read_page(url: str, html, text) -> Tuple[str, List[Standoff], bool]:
    """One page row -> ``(final_text, anns, truncated)``. html bytes win
    over text; either is cut at ``MAX_HTML_BYTES``. Raises ``PageError`` for
    a row with neither body or one the extractor rejects."""
    if html is None and text is None:
        raise PageError("row has neither html nor text", "null_row")
    truncated = False
    try:
        if html is not None:
            raw = bytes(html)
            truncated = len(raw) > MAX_HTML_BYTES
            extracted = extract_text(
                raw[:MAX_HTML_BYTES].decode("utf-8", "replace"))
        else:
            truncated = len(text) > MAX_HTML_BYTES
            extracted = text[:MAX_HTML_BYTES]
        final, anns = sentencize(extracted, url.rsplit("/", 1)[-1])
    except ExtractionError as e:
        raise PageError(str(e), "extract_error", truncated) from e
    return final, anns, truncated


def mention_rows(key: tuple, tokens: Sequence[str], tags: Sequence[str]
                 ) -> Iterator[tuple]:
    """``key + (tok_start, tok_end, surface, surface_norm, tag_type)`` per
    chunk of one tagged sentence."""
    for typ, a, b in extract_chunks(tags):
        surface = " ".join(tokens[a:b])
        yield key + (a, b, surface, surface.lower(), typ)


_PAGE_MEMO = FifoMemo(8_192)
"""Per-worker memo of what each capture body yields, keyed ``(url, body
kind, blake2b-128 of the body)`` — the url because ``sentencize`` takes the
doc id from it. An entry is ``[outcome, truncated, sentences, rows]``:
``_page_state``'s pre-tag state, so a recrawl row whose body this worker
already read skips extract, sentencize and tokenize+BIO, and one slot for
the body's final mention rows ``(weak tagger ref, doc_consistency,
((sent_idx, tok_start, tok_end, surface, surface_norm, tag_type), ...))``,
so it also skips tagging, doc-consistency and chunking. The rows hold for
the tagger and flag stamped on them; another tagger or flag recomputes
them and overwrites the slot."""


def _body_key(url: str, html, text):
    """The memo key of the body ``read_page`` uses; None for a null row."""
    if html is not None:
        return url, "html", blake2b(html, digest_size=16).digest()
    if text is not None:
        return url, "text", blake2b(text.encode("utf-8", "surrogatepass"),
                                    digest_size=16).digest()
    return None


def _page_state(url: str, html, text) -> Tuple[str, bool, tuple]:
    """One page row -> ``(outcome, truncated, sentences)``: the ``COUNT_KEYS``
    outcome it lands in, its cap flag, and ``(sent_idx, tokens, md_tags)``
    tuples (empty unless the outcome is ``ok``)."""
    try:
        final, anns, truncated = read_page(url, html, text)
    except PageError as e:
        return e.reason, e.truncated, ()
    try:
        per_sent = sentence_token_tags(final, anns)
    except TokenizerGuardError:  # the reference skips the file
        return "tokenizer_guard", truncated, ()
    return "ok", truncated, tuple((i, tuple(toks), tuple(mds))
                                  for i, toks, mds in per_sent)


def page_batch_mentions(urls: Sequence[str], htmls: Sequence, texts: Sequence,
                        tagger, doc_consistency: bool
                        ) -> Tuple[List[tuple], Dict[str, int]]:
    """One batch of pages -> ``(rows, counts)``: ``mention_rows`` keyed by
    ``(page position, sent_idx)`` in page, sentence, chunk order, and the
    ``COUNT_KEYS`` counters.

    Every page's pre-tag state comes from the worker's ``_PAGE_MEMO`` when
    this worker already read the same body under the same url, else from
    ``_page_state``; a hit counts exactly as a miss would. Rows are made
    per doc-consistency unit, a run of adjacent sentence-bearing pages with
    one url, whose sentences vote together:

    * a run of copies of one body gives every copy the rows of one copy (k
      copies cast k times one copy's votes: the same majorities and ties),
      so it is served from the entry's rows when this tagger and flag made
      them, and else tagged once and stored;
    * a run that mixes bodies is tagged whole and stores no rows.

    What is left to tag goes to ONE ``tag_sentences`` call (a batched
    decode amortizes across the batch), then one ``doc_postpass`` per run
    when ``doc_consistency``, then chunking."""
    counts = dict.fromkeys(COUNT_KEYS, 0)
    bearing = []  # (url, page_pos, key, entry) of each sentence-bearing page
    for pos, (url, html, text) in enumerate(zip(urls, htmls, texts)):
        key = _body_key(url, html, text)
        entry = None if key is None else _PAGE_MEMO.get(key)
        if entry is None:
            entry = [*_page_state(url, html, text), None]
            if key is not None:
                _PAGE_MEMO.put(key, entry)
        outcome, truncated, per_sent, _rows = entry
        counts["pages"] += 1
        counts[outcome] += 1
        counts["truncated"] += truncated
        if per_sent:
            bearing.append((url, pos, key, entry))

    units = []  # per run: (page positions, entry), or (None, rows) if mixed
    jobs = []   # (entry or None, out rows, [(row key, tokens, md_tags)])
    queued = set()
    for _url, run in groupby(bearing, key=itemgetter(0)):
        run = list(run)
        key, entry = run[0][2], run[0][3]
        if key is not None and all(r[2] == key for r in run):
            units.append(([r[1] for r in run], entry))
            stamp = entry[3]
            if (stamp is None or stamp[0]() is not tagger
                    or stamp[1] != doc_consistency) and id(entry) not in queued:
                queued.add(id(entry))
                jobs.append((entry, [], [((i,), toks, mds)
                                         for i, toks, mds in entry[2]]))
        else:
            rows = []
            units.append((None, rows))
            jobs.append((None, rows, [((r[1], i), toks, mds) for r in run
                                      for i, toks, mds in r[3][2]]))

    tags = jobs and tagger.tag_sentences([s[1:] for job in jobs
                                          for s in job[2]])
    ref, i = weakref.ref(tagger), 0
    for entry, rows, sents in jobs:
        j = i + len(sents)
        run_tags = tags[i:j]
        if doc_consistency:
            run_tags = doc_postpass([s[1] for s in sents], run_tags)
        for (key, toks, _mds), sent_tags in zip(sents, run_tags):
            rows.extend(mention_rows(key, toks, sent_tags))
        if entry is not None:
            entry[3] = (ref, doc_consistency, tuple(rows))
        i = j

    out: List[tuple] = []
    for positions, got in units:
        if positions is None:
            out.extend(got)
        else:
            rows = got[3][2]
            for pos in positions:
                out.extend([(pos,) + r for r in rows])
    return out, counts
